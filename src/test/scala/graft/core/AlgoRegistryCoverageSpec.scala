package graft.core

import graft.SparkSpec
import graft.config.JsonConfig
import graft.fsops.FsOps

class AlgoRegistryCoverageSpec extends SparkSpec {
  /** Every name the params surface has ever dispatched, aliases included:
    * a registration dropped from a family file fails here.
    */
  private val pinned = Seq(
    "FullLoad", "AppendLoad", "DeltaLoad", "DeltaMergeLoad", "DeltaLakeLoad",
    "FullMaterialization", "RangeMaterialization", "QueryMaterialization",
    "Transpose", "NestedFlattener", "FixedSizeStringExtractor", "SQLRunner",
    "CorpusDedup", "CorpusDedupClusters", "StratifiedSample",
    "SequencePacking", "PackingStats", "Decontaminate", "IncrementalDedup",
    "Funnel", "Retention", "PathNgrams", "StepLatency", "ConversionCurve",
    "TransitionMatrix", "EmbeddingNormStats", "LabelCentroidSimilarity",
    "FeatureCorr", "VocabDiff", "CharsetProfile", "VocabConcentration",
    "LangId", "VolumeAnomaliesPerGroup", "FunctionalDependency",
    "NoveltyScores", "KAnonymity", "DecayedScore", "BigramQuality",
    "DpCounts", "DpSum", "HeavyHitters", "KeySkewReport",
    "WatermarkLateness", "EmbeddingCovariance", "PrincipalComponent",
    "KMeansCentroids", "Bm25Retrieval", "Bm25Artifacts", "Bm25Score",
    "FuseRankings", "RetrievalEval", "TokenizerFertility", "ScriptProfile",
    "MixedLanguageReport", "BbitEstimate", "PairSetEval", "NucleusSelect",
    "AugmentSpanMask", "NormalizeHomoglyphs", "LDiversity",
    "WinnowCandidates", "AugmentTokenDropout", "UrlCanonicalReport",
    "MmrRerank", "RougeEval", "DatasetCard", "DecontaminateArtifacts",
    "BpeTokenCounts", "CmsJoinSize", "KnnLabelCheck", "SemDedup",
    "LabelPropagation", "LeakageSafeSplit", "TemperatureSample",
    "HardNegatives", "PqCodes", "PqSearch", "PqSearchRerank",
    "RandomProjection", "IvfPqSearch", "PqCodebooks", "IvfCentroids",
    "IvfPqCodes", "IvfPqSearchPrepared", "MediaNearDup", "NegativeSamples",
    "UpsampleBalanced", "QuantileSketch", "PageRank", "Hits", "BpeVocab",
    "BpeSegment", "BigramModel", "BigramScore", "MinKProb", "Readability",
    "BlocklistReport", "BlocklistFilter", "UrlDomains", "CompressionSignals",
    "ColumnProfile", "KeyReconciliation", "RollingVolume", "Burstiness",
    "VolumeAnomalies", "ZipfSlope", "SessionSummary", "DistinctIntensity",
    "TopValues", "CorrPerGroup", "KsDistance", "SeasonalityProfile",
    "PiiStats", "ConfusionMatrix", "MixtureReport", "GroupedHistogram",
    "CohenKappa", "MutualInformation", "LorenzCurve", "GiniConcentration",
    "ContingencyAssociation", "SessionStats", "AssociationRules",
    "SnapshotDiff", "CategoryDrift", "NumericDrift", "Pseudonymize",
    "CmsSketch", "CmsEstimate", "HllSketch", "HllEstimate", "AsOfJoin",
    "RecordLinkage", "SortedExportManifest", "AsOfInterpolate", "Debounce",
    "TimeWeightedAverage", "RangeJoinPoints", "IntervalOverlap",
    "MergeIntervals", "DedupArtifacts", "HashSplit", "WeightedSample",
    "PrioritySample", "SourceCap", "TokenBudgetMix", "BootstrapSample",
    "UniMaxMix", "UniMaxSelect", "NaiveBayesClassify", "ConfidentJoint",
    "RepeatedSpans", "SpanArtifacts", "SpanIncrement", "RemoveRepeatedSpans",
    "NaiveBayesModel", "NaiveBayesScore", "DsirWeights", "DsirArtifacts",
    "DsirScore", "DsirSelect", "GopherRules", "GopherFilter",
    "EditDistancePairs", "SemanticDecontaminate", "QualityChecks",
    "QuantileBand", "SplitBalance", "WeightedQuantiles", "ScoreBuckets",
    "MadPerGroup", "QuantileNormalize", "Winsorize", "MixtureReweight",
    "NormalizeText", "Collocations", "ConflictingMetadata", "DedupStats",
    "EmbeddingOutliers", "TopTerms", "Boilerplate", "ChunkText",
    "ChunkNovelty", "CrossSourceDups", "MediaDedup", "PiiRedaction",
    "RepetitionSignals", "CorpusShuffle", "UnigramQuality",
    "UnigramVocabulary", "GzipDecompressorBytes", "GzipDecompressor",
    "VersionWrite", "VersionMerge", "VersionRead", "VersionDiff",
    "VersionRestore", "VersionCompact", "MaintainedViewCatchUp",
    "MaintainedViewRunOnce", "CorpusArtifactsCatchUp", "CorpusAdmit",
    "VectorIndexCatchUp", "VectorIndexRebuild", "VectorIndexStaleness",
    "VectorIndexSearch", "VersionVacuum", "IncrementalAggInit",
    "IncrementalAggRefresh")

  test("every pinned algorithm name dispatches, and only those") {
    pinned.distinct.size shouldBe 209
    AlgoRegistry.families.flatMap(_.algorithms).map(_._1).toSet shouldBe
      pinned.toSet
    val fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
    val empty = new JsonConfig(Map.empty)
    // an empty params file fails on its first required key, never on the
    // name lookup
    pinned.foreach { name =>
      try AlgoRegistry.create(name, spark, fsOps, empty)
      catch {
        case e: IllegalArgumentException
            if e.getMessage.contains("unknown algorithm") =>
          fail(s"$name no longer dispatches")
        case _: Exception => ()
      }
    }
    intercept[IllegalArgumentException](
      AlgoRegistry.create("NoSuchAlgorithm", spark, fsOps, empty))
      .getMessage should include("unknown algorithm: NoSuchAlgorithm")
  }

  test("a name registered twice fails when its family initialises") {
    val e = intercept[IllegalArgumentException](new AlgoFamily {
      transform("Twice")((_, df) => df)
      action("Twice", write = (_, _) => ())
    })
    e.getMessage should include("Twice")
    object A extends AlgoFamily { transform("Shared")((_, df) => df) }
    object B extends AlgoFamily { action("Shared", write = (_, _) => ()) }
    intercept[IllegalArgumentException](AlgoRegistry.combine(Seq(A, B)))
      .getMessage should include("Shared")
  }
}
