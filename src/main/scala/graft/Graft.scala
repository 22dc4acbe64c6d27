package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library façade — the entry points a user calls directly, grouped
  * by area. Everything is a plain `DataFrame => DataFrame` (or a
  * catalog read), composable with any other Spark code; the driver
  * registry in [[SparkEntry]] exercises the same functions.
  *
  * {{{
  * val spark = GraftSession.build(engine = true)  // kernels + aliases
  * val docs  = Graft.table(spark, dir, "documents")
  * val clean = Graft.text.qualityScores(spark, dir)
  * val dups  = Graft.dedup.minhashPairs(spark, dir)
  * }}}
  */
object Graft {

  /** Catalog read (vectorized parquet scan; handles the events table's
    * TIMESTAMP(NANOS) quirk; registers graft expressions).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    sources.Tables(spark, dir, name)

  /** The reference pipeline (SURVEY.md §2): cast → filter → route →
    * dedup, plus the idempotent day-load job and streaming twin.
    */
  object pipeline {
    def load(spark: SparkSession, dir: String): DataFrame =
      operators.HfpPipeline.full(spark, dir)
    def loadJob: jobs.HfpLoadJob.type = jobs.HfpLoadJob
    def streamLoader: streaming.HfpStreamLoader.type = streaming.HfpStreamLoader
  }

  /** Text-analysis / corpus-filter operators over a documents table. */
  object text {
    def tokenStats(s: SparkSession, dir: String): DataFrame = operators.TextAnalysis.taTokens(s, dir)
    def qualityScores(s: SparkSession, dir: String): DataFrame = operators.TextAnalysis.taQuality(s, dir)
    def languageId(s: SparkSession, dir: String): DataFrame = operators.TextAnalysis.taLangid(s, dir)
    def fingerprints(s: SparkSession, dir: String): DataFrame = operators.TextAnalysis.taFingerprint(s, dir)
    def heavyHitters(s: SparkSession, dir: String): DataFrame = operators.TextAnalysis.taHeavyHitters(s, dir)
    def repetitionSignals(s: SparkSession, dir: String): DataFrame = operators.TextAnalysis2.taRepetition(s, dir)
    def piiScrub(s: SparkSession, dir: String): DataFrame = operators.TextAnalysis2.taPiiScrub(s, dir)
    def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = operators.TextAnalysis2.taTfidf(s, dir)
    def bm25(s: SparkSession, dir: String): DataFrame = operators.TextAnalysis2.taBm25(s, dir)
    def ngramLmScores(s: SparkSession, dir: String): DataFrame = operators.TextAnalysis2.taNgramLm(s, dir)
    def invertedIndex(s: SparkSession, dir: String): DataFrame = operators.TextAnalysis2.taInvertedIndex(s, dir)
    def collocations(s: SparkSession, dir: String): DataFrame = operators.CorpusStats.taCollocations(s, dir)
    def sourceEntropy(s: SparkSession, dir: String): DataFrame = operators.CorpusStats.qEntropy(s, dir)
    def zipfFit(s: SparkSession, dir: String): DataFrame = operators.CorpusStats.qZipfFit(s, dir)
    def textrankKeywords(s: SparkSession, dir: String): DataFrame = operators.GraphOps.taTextrank(s, dir)
    def noveltyReport(s: SparkSession, dir: String): DataFrame = operators.TrainingOps.taNovelty(s, dir)
    def bpeTrain(s: SparkSession, dir: String): DataFrame = operators.TokenizerOps.taBpeTrain(s, dir)
    def featureHash(s: SparkSession, dir: String): DataFrame = operators.TokenizerOps.qFeatureHash(s, dir)
    def perplexityBuckets(s: SparkSession, dir: String): DataFrame = operators.CurationOps3.taPerplexityBucket(s, dir)
  }

  /** Deduplication tiers: exact → sketch-candidates → verified pairs →
    * transitive components.
    */
  object dedup {
    def exact(s: SparkSession, dir: String): DataFrame = operators.DedupOps.queries("dd_exact")(s, dir)
    def minhashPairs(s: SparkSession, dir: String): DataFrame = operators.DedupOps.ddMinhashLsh(s, dir)
    def simhashPairs(s: SparkSession, dir: String): DataFrame = operators.DedupOps.queries("dd_simhash")(s, dir)
    def editDistancePairs(s: SparkSession, dir: String): DataFrame = operators.DedupOps.queries("dd_edit_distance")(s, dir)
    def semantic(s: SparkSession, dir: String): DataFrame = operators.Similarity2.ddSemantic(s, dir)
    def components(s: SparkSession, dir: String): DataFrame = operators.GraphOps.ddComponents(s, dir)
    def keepBest(s: SparkSession, dir: String): DataFrame = operators.GraphOps.ddKeepBest(s, dir)
    def containment(s: SparkSession, dir: String): DataFrame = operators.DedupOps.ddContainment(s, dir)
    def bagOfWords(s: SparkSession, dir: String): DataFrame = operators.DedupOps.ddBagDedup(s, dir)
    def incremental(s: SparkSession, dir: String): DataFrame = operators.DedupOps.ddIncremental(s, dir)
    def embedCosinePairs(s: SparkSession, dir: String): DataFrame = operators.DedupOps.ddEmbedCosine(s, dir)
    def urlCanonical(s: SparkSession, dir: String): DataFrame = operators.CurationOps2.ddUrlDedup(s, dir)
    def supershinglePairs(s: SparkSession, dir: String): DataFrame = operators.CurationOps3.ddSupershingle(s, dir)
    def tfidfCosinePairs(s: SparkSession, dir: String): DataFrame = operators.CurationOps3.taTfidfCosine(s, dir)
    def entityResolve(s: SparkSession, dir: String): DataFrame = operators.LinkageOps.qEntityResolve(s, dir)
    def canonicalize(s: SparkSession, dir: String): DataFrame = operators.DedupOps2.ddCanonical(s, dir)
    def jointMultimodalPairs(s: SparkSession, dir: String): DataFrame = operators.DedupOps2.mmJointDedup(s, dir)
    def goldenRecords(s: SparkSession, dir: String): DataFrame = operators.DedupOps2.qSurvivorship(s, dir)
    def splitLeakage(s: SparkSession, dir: String): DataFrame = operators.DedupOps2.qSplitLeakage(s, dir)
    def thresholdCurve(s: SparkSession, dir: String): DataFrame = operators.DedupOps.ddThresholdCurve(s, dir)
    def vocabGrowth(s: SparkSession, dir: String): DataFrame = operators.CorpusStats.qVocabGrowth(s, dir)
  }

  /** Similarity search over an embeddings table. */
  object ann {
    def bruteForce(s: SparkSession, dir: String): DataFrame = operators.Similarity.annBrute(s, dir)
    def ivf(s: SparkSession, dir: String): DataFrame = operators.Similarity.annIvf(s, dir)
    def ivfTrained(s: SparkSession, dir: String): DataFrame = operators.KMeansIvf.annIvfTrained(s, dir)
    def sq8(s: SparkSession, dir: String): DataFrame = operators.Similarity2.annSq8(s, dir)
    def pq(s: SparkSession, dir: String): DataFrame = operators.Similarity2.annPq(s, dir)
    def kmeansTrain(s: SparkSession, dir: String): DataFrame = operators.KMeansIvf.kmeansTrain(s, dir)
    def maxSim(s: SparkSession, dir: String): DataFrame = operators.Similarity3.annMaxSim(s, dir)
    def rangeSearch(s: SparkSession, dir: String): DataFrame = operators.Similarity.annRangeSearch(s, dir)
    def recallEval(s: SparkSession, dir: String): DataFrame = operators.Similarity3.annRecallEval(s, dir)
    def recallCurve(s: SparkSession, dir: String): DataFrame = operators.Similarity3.annRecallCurve(s, dir)
    def knnJoin(s: SparkSession, dir: String): DataFrame = operators.Similarity3.annKnnJoin(s, dir)
  }

  /** Training-set mechanics: deterministic sampling, splits, packing. */
  object training {
    def hashSample(s: SparkSession, dir: String): DataFrame = operators.ScaleOps.qHashSample(s, dir)
    def trainValTestSplit(s: SparkSession, dir: String): DataFrame = operators.ScaleOps.qTrainSplit(s, dir)
    def stratifiedSample(s: SparkSession, dir: String): DataFrame = operators.Pipelines.queries("q_stratified_sample")(s, dir)
    def packSequences(s: SparkSession, dir: String): DataFrame = operators.Pipelines.queries("q_doc_packing")(s, dir)
    def contextChunks(s: SparkSession, dir: String): DataFrame = operators.Pipelines.queries("q_context_chunks")(s, dir)
    def domainMix(s: SparkSession, dir: String): DataFrame = operators.TrainingOps2.qDomainMix(s, dir)
    def tokenBudget(s: SparkSession, dir: String): DataFrame = operators.TrainingOps2.qTokenBudget(s, dir)
    def weightedSample(s: SparkSession, dir: String): DataFrame = operators.TrainingOps2.qWeightedSample(s, dir)
    def outlierTrim(s: SparkSession, dir: String): DataFrame = operators.TrainingOps2.qOutlierTrim(s, dir)
    def dsirWeights(s: SparkSession, dir: String): DataFrame = operators.CurationOps2.taDsir(s, dir)
    def shardPlan(s: SparkSession, dir: String): DataFrame = operators.LayoutOps.qShardPlan(s, dir)
    def curationFunnel(s: SparkSession, dir: String): DataFrame = operators.Pipelines.qCurationFunnel(s, dir)
    def domainCap(s: SparkSession, dir: String): DataFrame = operators.TrainingOps2.qDomainCap(s, dir)
    def synthSample(s: SparkSession, dir: String): DataFrame = operators.AdvancedOps.qSynthSample(s, dir)
    def effectiveSampleSize(s: SparkSession, dir: String): DataFrame = operators.TrainingOps2.qEffectiveSampleSize(s, dir)
    def groupSample(s: SparkSession, dir: String): DataFrame = operators.EvalOps3.qGroupSample(s, dir)
    def hardNegatives(s: SparkSession, dir: String): DataFrame = operators.TrainingOps3.qHardNegatives(s, dir)
    def negativeSampling(s: SparkSession, dir: String): DataFrame = operators.TrainingOps3.qNegativeSampling(s, dir)
    def curriculumSchedule(s: SparkSession, dir: String): DataFrame = operators.TrainingOps3.qCurriculum(s, dir)
    def mixtureTemperature(s: SparkSession, dir: String): DataFrame = operators.TrainingOps2.qMixtureTemperature(s, dir)
    def activeLearningMargin(s: SparkSession, dir: String): DataFrame = operators.MlOps2.qActiveLearningMargin(s, dir)
  }

  /** Warehouse/ops utilities. */
  object ops {
    def profile(s: SparkSession, dir: String): DataFrame = operators.ScaleOps.qProfile(s, dir)
    def snapshotDiff(s: SparkSession, dir: String): DataFrame = operators.Analytics5.qSnapshotDiff(s, dir)
    def scd2(s: SparkSession, dir: String): DataFrame = operators.Analytics5.qScd2(s, dir)
    def keepLatest(s: SparkSession, dir: String): DataFrame = operators.Analytics5.qDedupKeepLatest(s, dir)
    def incrementalAgg(s: SparkSession, dir: String): DataFrame = operators.ScaleOps.qIncrAgg(s, dir)
    def incrementalJoin(s: SparkSession, dir: String): DataFrame = operators.ScaleOps.qIncrJoin(s, dir)
    def zorderKey(s: SparkSession, dir: String): DataFrame = operators.ScaleOps.qZorder(s, dir)
    def gapFill(s: SparkSession, dir: String): DataFrame = operators.Analytics5.qGapFill(s, dir)
    def bucketedJoin(s: SparkSession, dir: String): DataFrame = operators.ScaleOps.qBucketedJoin(s, dir)
    def dataCard(s: SparkSession, dir: String): DataFrame = operators.GovernanceOps.qDataCard(s, dir)
    def skewProfile(s: SparkSession, dir: String): DataFrame = operators.ScaleOps.qSkewProfile(s, dir)
    def zoneMapReport(s: SparkSession, dir: String): DataFrame = operators.LayoutOps.qZoneMap(s, dir)
    def joinSizeEstimate(s: SparkSession, dir: String): DataFrame = operators.Analytics.qJoinSizeEst(s, dir)
    def bloomSkipReport(s: SparkSession, dir: String): DataFrame = operators.LayoutOps.qBloomSkip(s, dir)
    def deltaEncodingReport(s: SparkSession, dir: String): DataFrame = operators.LayoutOps.qDeltaEncoding(s, dir)
    def rangeJoinNative(s: SparkSession, dir: String): DataFrame = operators.AdvancedOps.qRangeNative(s, dir)
  }

  /** Geospatial (the reference's vehicle-positioning domain). */
  object geo {
    def gridCells(s: SparkSession, dir: String): DataFrame = operators.GeoOps.hfpGeoCells(s, dir)
    def radiusJoin(s: SparkSession, dir: String): DataFrame = operators.GeoOps.qSpatialJoin(s, dir)
    def nearestStop(s: SparkSession, dir: String): DataFrame = operators.GeoOps.qNearestStop(s, dir)
    def trajectoryStats(s: SparkSession, dir: String): DataFrame = operators.GeoOps.qGeoTrajectory(s, dir)
    def speedProfile(s: SparkSession, dir: String): DataFrame = operators.GeoOps.qGeoSpeed(s, dir)
  }

  /** Pattern mining & classification (round 7). */
  object mining {
    def assocRules(s: SparkSession, dir: String): DataFrame = operators.MiningOps.qAssocRules(s, dir)
    def knnClassify(s: SparkSession, dir: String): DataFrame = operators.MiningOps.qKnnClassify(s, dir)
    def skyline(s: SparkSession, dir: String): DataFrame = operators.MiningOps.qSkyline(s, dir)
    def labelPropCommunities(s: SparkSession, dir: String): DataFrame = operators.GraphOps.qLabelProp(s, dir)
    def clusteringCoefficients(s: SparkSession, dir: String): DataFrame = operators.GraphOps.qClusteringCoeff(s, dir)
  }

  /** In-engine ML primitives (round 11): regression, sketches,
    * recommenders, declarative training steps, density clustering.
    */
  object ml {
    def ols(s: SparkSession, dir: String): DataFrame = operators.MlOps.qOls(s, dir)
    def cmsHeavy(s: SparkSession, dir: String): DataFrame = operators.MlOps.qCmsHeavy(s, dir)
    def itemCf(s: SparkSession, dir: String): DataFrame = operators.MlOps.qItemCf(s, dir)
    def stemFrequencies(s: SparkSession, dir: String): DataFrame = operators.MlOps.taStem(s, dir)
    def gdTrain(s: SparkSession, dir: String): DataFrame = operators.MlOps.qGdTrain(s, dir)
    def dbscanGrid(s: SparkSession, dir: String): DataFrame = operators.MlOps.qDbscanGrid(s, dir)
    def ucbBandit(s: SparkSession, dir: String): DataFrame = operators.MlOps2.qUcbBandit(s, dir)
    def alsStep(s: SparkSession, dir: String): DataFrame = operators.MlOps2.qAlsStep(s, dir)
    def seasonalProfile(s: SparkSession, dir: String): DataFrame = operators.MlOps2.qSeasonalProfile(s, dir)
    def auc(s: SparkSession, dir: String): DataFrame = operators.EvalOps.qAuc(s, dir)
    def calibration(s: SparkSession, dir: String): DataFrame = operators.EvalOps.qCalibration(s, dir)
    def rfmSegments(s: SparkSession, dir: String): DataFrame = operators.EvalOps.qRfm(s, dir)
    def dpCounts(s: SparkSession, dir: String): DataFrame = operators.EvalOps.qDpCounts(s, dir)
    def forecastBacktest(s: SparkSession, dir: String): DataFrame = operators.TimeSeriesOps.qForecastSnaive(s, dir)
    def clusterTopics(s: SparkSession, dir: String): DataFrame = operators.TopicOps.taClusterTopics(s, dir)
    def codeDetect(s: SparkSession, dir: String): DataFrame = operators.CorpusPrepOps.taCodeDetect(s, dir)
    def spanCorrupt(s: SparkSession, dir: String): DataFrame = operators.CorpusPrepOps.qSpanCorrupt(s, dir)
    def pcaTopDirection(s: SparkSession, dir: String): DataFrame = operators.SpectralOps.qPcaPower(s, dir)
    def pcaSecondDirection(s: SparkSession, dir: String): DataFrame = operators.SpectralOps.qPcaDeflate(s, dir)
    def pcaProjectionByLabel(s: SparkSession, dir: String): DataFrame = operators.SpectralOps.qPcaProject(s, dir)
    def featureQuantiles(s: SparkSession, dir: String): DataFrame = operators.SpectralOps.qFeatureQuantiles(s, dir)
    def bootstrapCi(s: SparkSession, dir: String): DataFrame = operators.EvalOps.qBootstrapCi(s, dir)
    def mutualInformation(s: SparkSession, dir: String): DataFrame = operators.MlOps2.qMutualInformation(s, dir)
    def ksTest(s: SparkSession, dir: String): DataFrame = operators.EvalOps.taKsTest(s, dir)
    // round-7 wave: confusion/agreement/drift/coverage readouts,
    // feature encoding, audited release, deterministic sampling
    def confusionStats(s: SparkSession, dir: String): DataFrame = operators.EvalOps2.qConfusionStats(s, dir)
    def cohenKappa(s: SparkSession, dir: String): DataFrame = operators.EvalOps2.qCohenKappa(s, dir)
    def psi(s: SparkSession, dir: String): DataFrame = operators.EvalOps2.qPsi(s, dir)
    def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = operators.EvalOps2.annMatryoshka(s, dir)
    def oovRate(s: SparkSession, dir: String): DataFrame = operators.EvalOps2.taOovRate(s, dir)
    def wasserstein(s: SparkSession, dir: String): DataFrame = operators.EvalOps2.taWasserstein(s, dir)
    def targetEncode(s: SparkSession, dir: String): DataFrame = operators.FeatureOps.qTargetEncode(s, dir)
    def kAnonymity(s: SparkSession, dir: String): DataFrame = operators.FeatureOps.qKAnonymity(s, dir)
    def lDiversity(s: SparkSession, dir: String): DataFrame = operators.GovernanceOps.qLDiversity(s, dir)
    def theilSen(s: SparkSession, dir: String): DataFrame = operators.TimeSeriesOps.qTheilSen(s, dir)
    def madOutliers(s: SparkSession, dir: String): DataFrame = operators.TimeSeriesOps.qMadOutlier(s, dir)
    def powerAnalysis(s: SparkSession, dir: String): DataFrame = operators.EvalOps2.qPowerAnalysis(s, dir)
    def brierScore(s: SparkSession, dir: String): DataFrame = operators.EvalOps2.qBrierScore(s, dir)
    def reservoirSample(s: SparkSession, dir: String): DataFrame = operators.FeatureOps.qReservoirSample(s, dir)
    def hybridRrf(s: SparkSession, dir: String): DataFrame = operators.FeatureOps.qHybridRrf(s, dir)
    def meanReciprocalRank(s: SparkSession, dir: String): DataFrame = operators.MiningOps.qMrr(s, dir)
    def giniConcentration(s: SparkSession, dir: String): DataFrame = operators.EvalOps2.qGini(s, dir)
    def htEstimate(s: SparkSession, dir: String): DataFrame = operators.EvalOps2.qHtEstimate(s, dir)
    // round-10 wave: ranking eval + distribution diagnostics
    def mapAtK(s: SparkSession, dir: String): DataFrame = operators.TrainingOps3.qMapAtK(s, dir)
    def benfordTest(s: SparkSession, dir: String): DataFrame = operators.TrainingOps3.qBenford(s, dir)
    def tailIndex(s: SparkSession, dir: String): DataFrame = operators.TrainingOps3.qTailIndex(s, dir)
    def embeddingCenterStats(s: SparkSession, dir: String): DataFrame = operators.TrainingOps3.qEmbeddingCenter(s, dir)
    def winsorizedMeans(s: SparkSession, dir: String): DataFrame = operators.EvalOps3.qWinsorize(s, dir)
    def classBalance(s: SparkSession, dir: String): DataFrame = operators.EvalOps3.qClassBalance(s, dir)
    def sampleRatioMismatch(s: SparkSession, dir: String): DataFrame = operators.EvalOps3.qAbSrm(s, dir)
    // round-10 preference/eval wave: RLHF data construction + paired tests
    def preferencePairs(s: SparkSession, dir: String): DataFrame = operators.PrefOps.qPrefPairs(s, dir)
    def bradleyTerry(s: SparkSession, dir: String): DataFrame = operators.PrefOps.qBradleyTerry(s, dir)
    def fleissKappa(s: SparkSession, dir: String): DataFrame = operators.PrefOps.qFleissKappa(s, dir)
    def passAtK(s: SparkSession, dir: String): DataFrame = operators.PrefOps.qPassAtK(s, dir)
    def mcnemarTest(s: SparkSession, dir: String): DataFrame = operators.PrefOps.qMcnemar(s, dir)
    def ngramOverlapEval(s: SparkSession, dir: String): DataFrame = operators.PrefOps.qNgramOverlap(s, dir)
    def paddingWaste(s: SparkSession, dir: String): DataFrame = operators.PrefOps.qPadWaste(s, dir)
    // round-10 batch-construction/test-statistic wave
    def chi2Independence(s: SparkSession, dir: String): DataFrame = operators.EvalOps4.qChi2Independence(s, dir)
    def krippendorffAlpha(s: SparkSession, dir: String): DataFrame = operators.EvalOps4.qKrippendorff(s, dir)
    def cochranQ(s: SparkSession, dir: String): DataFrame = operators.EvalOps4.qCochranQ(s, dir)
    def mmrSelect(s: SparkSession, dir: String): DataFrame = operators.EvalOps4.qMmrSelect(s, dir)
    def sequencePacking(s: SparkSession, dir: String): DataFrame = operators.PackOps.qSeqPack(s, dir)
    def stratifiedKfold(s: SparkSession, dir: String): DataFrame = operators.PackOps.qStratifiedKfold(s, dir)
    def domainReweight(s: SparkSession, dir: String): DataFrame = operators.PackOps.qDomainReweight(s, dir)
    def quantileNormalize(s: SparkSession, dir: String): DataFrame = operators.PackOps.qQuantileNorm(s, dir)
    // round-10 post-training / serving eval wave
    def gaeAdvantages(s: SparkSession, dir: String): DataFrame = operators.ServingOps.qGae(s, dir)
    def temperatureScale(s: SparkSession, dir: String): DataFrame = operators.ServingOps.qTemperatureScale(s, dir)
    def bestOfN(s: SparkSession, dir: String): DataFrame = operators.ServingOps.qBestOf2(s, dir)
    def topPCutoff(s: SparkSession, dir: String): DataFrame = operators.ServingOps.qTopPCutoff(s, dir)
    // round-11 serving/training-diagnostics wave
    def specDecodeAcceptance(s: SparkSession, dir: String): DataFrame = operators.ServingOps.qSpecDecodeAccept(s, dir)
    def gradientNoiseScale(s: SparkSession, dir: String): DataFrame = operators.TrainingOps3.qGradNoiseScale(s, dir)
    def lengthDebiasedWinrate(s: SparkSession, dir: String): DataFrame = operators.PrefOps.qLengthDebiasedWinrate(s, dir)
    // round-12 serving wave
    def kvPrefixReuse(s: SparkSession, dir: String): DataFrame = operators.ServingOps2.qKvPrefixReuse(s, dir)
    def kvDepthProfile(s: SparkSession, dir: String): DataFrame = operators.ServingOps2.qKvDepthProfile(s, dir)
    def draftLengthCurve(s: SparkSession, dir: String): DataFrame = operators.ServingOps2.qDraftLengthCurve(s, dir)
    def routerCostQualityFrontier(s: SparkSession, dir: String): DataFrame = operators.ServingOps2.qRouterFrontier(s, dir)
    def cacheTtlCurve(s: SparkSession, dir: String): DataFrame = operators.ServingOps2.qCacheTtlCurve(s, dir)
  }

  /** RL / agentic-trace diagnostics over multi-turn episode logs
    * (round 13): per-step credit assignment, tool-failure taxonomy,
    * near-identical rollout collapse.
    */
  object traces {
    def stepCredit(s: SparkSession, dir: String): DataFrame = operators.TraceOps.qTraceCredit(s, dir)
    def toolErrorTaxonomy(s: SparkSession, dir: String): DataFrame = operators.TraceOps.qToolErrors(s, dir)
    def trajectoryCollapse(s: SparkSession, dir: String): DataFrame = operators.TraceOps.qTrajCollapse(s, dir)
    def loopDiagnostics(s: SparkSession, dir: String): DataFrame = operators.TraceOps.qLoopDetect(s, dir)
    def successFunnel(s: SparkSession, dir: String): DataFrame = operators.TraceOps.qTraceFunnel(s, dir)
  }

  /** Reward-model / RLHF diagnostics (round 13): best-of-n
    * over-optimization, preference-cycle census, per-depth
    * policy/reference KL, verbosity-bias regression, judge
    * position-bias audit.
    */
  object rewards {
    def bestOfNOveroptimization(s: SparkSession, dir: String): DataFrame = operators.RewardOps.qBonOveropt(s, dir)
    def preferenceTransitivity(s: SparkSession, dir: String): DataFrame = operators.RewardOps.qPrefTransitivity(s, dir)
    def stepKlProfile(s: SparkSession, dir: String): DataFrame = operators.RewardOps.qStepKl(s, dir)
    def lengthBiasSlope(s: SparkSession, dir: String): DataFrame = operators.RewardOps.qRewardLengthSlope(s, dir)
    def judgePositionBias(s: SparkSession, dir: String): DataFrame = operators.RewardOps.qJudgePositionBias(s, dir)
  }

  /** Mixture-of-Experts routing diagnostics (round 13): load balance +
    * Switch aux loss, capacity-factor drops, cross-layer churn.
    */
  object moe {
    def loadBalance(s: SparkSession, dir: String): DataFrame = operators.MoeOps.qMoeLoadBalance(s, dir)
    def capacityDrops(s: SparkSession, dir: String): DataFrame = operators.MoeOps.qMoeCapacityDrops(s, dir)
    def routingChurn(s: SparkSession, dir: String): DataFrame = operators.MoeOps.qMoeRoutingChurn(s, dir)
  }

  /** Knowledge-distillation diagnostics (round 13): teacher-student
    * agreement/KL, dark-knowledge temperature sweep, hardest-
    * disagreement mining.
    */
  object distill {
    def agreement(s: SparkSession, dir: String): DataFrame = operators.DistillOps.qDistillAgree(s, dir)
    def temperatureCurve(s: SparkSession, dir: String): DataFrame = operators.DistillOps.qDistillTempCurve(s, dir)
    def mineDisagreements(s: SparkSession, dir: String): DataFrame = operators.DistillOps.qDistillMine(s, dir)
  }

  /** Multimodal (binary-column) operators. */
  object media {
    def binaryStats(s: SparkSession, dir: String): DataFrame = operators.Multimodal.mmBinaryStats(s, dir)
    def decodeFeatures(s: SparkSession, dir: String): DataFrame = operators.Multimodal.mmDecodeFeatures(s, dir)
    def resize(s: SparkSession, dir: String): DataFrame = operators.Multimodal.mmResize(s, dir)
    def patchify(s: SparkSession, dir: String): DataFrame = operators.Multimodal.mmPatchify(s, dir)
    def modalityRoute(s: SparkSession, dir: String): DataFrame = operators.Multimodal.mmModalityRoute(s, dir)
    def phashBuckets(s: SparkSession, dir: String): DataFrame = operators.Multimodal.mmPhashBuckets(s, dir)
    def mfcc(s: SparkSession, dir: String): DataFrame = operators.Multimodal.mmMfcc(s, dir)
    def clipFilter(s: SparkSession, dir: String): DataFrame = operators.Multimodal.mmClipFilter(s, dir)
    def keyframes(s: SparkSession, dir: String): DataFrame = operators.Multimodal.mmKeyframes(s, dir)
    def exifQuarantine(s: SparkSession, dir: String): DataFrame = operators.Multimodal.mmExifQuarantine(s, dir)
    def crossModalContamination(s: SparkSession, dir: String): DataFrame = operators.DedupOps2.mmCrossContam(s, dir)
  }
}
