package graft.core

import graft.config.JsonConfig.number
import graft.operators._
import org.apache.spark.sql.functions.{col, unix_millis}

/** Sampling and statistics: samplers, splits and mixes, profiles and drift,
  * funnels and sessions, sketches, privacy audits, as-of and range joins,
  * graph ranks and record linkage.
  */
object StatsAlgos extends AlgoFamily {
  transform("StratifiedSample")((p, df) => Sampling.stratifiedSample(df,
    p.getString("id_column"), p.getString("strata_column"),
    fractions = p.getDoubleMap("fractions", Map.empty),
    defaultFraction = p.getDouble("default_fraction", 1.0)))
  // splits: an ORDERED [{"name", "weight"}] list — bucket bounds cumulate
  transform("HashSplit")((p, df) => Sampling.hashSplit(df,
    p.getString("id_column"), p.getSeq[Map[String, Any]]("splits").map(m =>
      m("name").toString -> number("splits.weight", m("weight")).doubleValue)))
  // Bernoulli PPS sampling: keep each row w.p. min(1, weight/threshold)
  transform("WeightedSample")((p, df) => Sampling.weightedSample(df,
    p.getString("id_column"), p.getString("weight_column"),
    p.getDouble("threshold")))
  // Duffield–Lund–Thorup priority sample: k per group, max(w, τ) weights
  transform("PrioritySample")((p, df) => Sampling.prioritySample(df,
    p.getString("id_column"), p.getString("group_column"),
    p.getString("weight_column"), p.getInt("k")))
  transform("SourceCap")((p, df) => Sampling.capPerGroup(df,
    p.getString("id_column"), p.getString("group_column"),
    p.getInt("max_per_group")))
  // data mixing: budget_per_group in weight units (tokens); crossing row kept
  transform("TokenBudgetMix")((p, df) => Sampling.capPerGroupWeighted(df,
    p.getString("id_column"), p.getString("group_column"),
    p.getString("weight_column"), p.getDouble("budget_per_group")))
  // global budget split across groups by proportions; unnamed groups whole
  transform("MixtureReweight")((p, df) => Sampling.mixToBudget(df,
    p.getString("id_column"), p.getString("group_column"),
    p.getString("weight_column"), p.getDoubleMap("proportions"),
    totalBudget = p.getDouble("total_budget")))
  // temperature mixture sampling (n^alpha tempered group shares)
  transform("TemperatureSample")((p, df) => Sampling.temperatureSample(df,
    p.getString("id_column"), p.getString("group_column"),
    p.getDouble("alpha")))
  // UniMax (Chung et al. 2023) per-group token budgets under a max-epochs cap
  transform("UniMaxMix")((p, df) => Sampling.unimaxAllocate(df,
    p.getString("group_column"), p.getString("weight_column"),
    p.getLong("total_budget"), p.getInt("max_epochs")))
  // the apply face: one-epoch selection under the UniMax allocation
  transform("UniMaxSelect")((p, df) => Sampling.unimaxSelect(df,
    p.getString("id_column"), p.getString("group_column"),
    p.getString("weight_column"), p.getLong("total_budget"),
    p.getInt("max_epochs")))
  // seeded Poisson bootstrap replicate; an ensemble is B calls with B tags
  transform("BootstrapSample")((p, df) => Sampling.bootstrapReplicas(df,
    p.getString("id_column"), p.getDouble("lambda"),
    p.getStringOpt("tag").getOrElse("b0"), p.getInt("max_k", 8)))
  // quality-nucleus selection: best docs until p of group weight mass
  transform("NucleusSelect")((p, df) => Sampling.nucleusPerGroup(df,
    p.getString("id_column"), p.getString("group_column"),
    p.getString("weight_column"), p.getString("score_column"),
    p.getDouble("p", 0.5), p.getInt("score_precision", 6)))
  // deterministic contrastive negatives drawn from the items_dir universe
  transform("NegativeSamples")((p, df) => Sampling.negativeSamples(df,
    p.getString("user_column"), p.getString("item_column"),
    p.parquet("items_dir"), p.getString("item_id_column"), p.getInt("k")))
  // class-balanced upsampling to the majority class size
  transform("UpsampleBalanced")((p, df) =>
    Sampling.upsampleBalanced(df, p.getString("class_column")))
  // keep rows whose per-group percent_rank of score_column is in [lo, hi]
  transform("QuantileBand")((p, df) => Sampling.filterByQuantileBand(df,
    p.getString("group_column"), p.getString("score_column"),
    p.getDouble("lo"), p.getDouble("hi")))
  // split-balance audit over labeled splits
  transform("SplitBalance")((p, df) => Sampling.splitBalance(df,
    p.getString("split_column"), p.getString("strata_column")))
  // weight-mass quantiles per group (integer weights)
  transform("WeightedQuantiles")((p, df) =>
    Sampling.weightedQuantilesPerGroup(df, p.getString("group_column"),
      p.getString("score_column"), p.getString("weight_column"),
      p.getDoubles("ps")))
  // equi-depth score-bucket calibration report
  transform("ScoreBuckets")((p, df) => Sampling.scoreBucketsReport(df,
    p.getString("score_column"), p.getString("stat_column"),
    nBuckets = p.getInt("n_buckets", 10)))
  // robust per-group scale: median + MAD (type-1 quantiles)
  transform("MadPerGroup")((p, df) => Sampling.madPerGroup(df,
    p.getString("group_column"), p.getString("score_column")))
  // cross-group score calibration onto the global quantile scale
  transform("QuantileNormalize")((p, df) => Sampling.quantileNormalize(df,
    p.getString("group_column"), p.getString("score_column")))
  // clip value_column into its group's [lo, hi] quantile band, as <col>_w
  transform("Winsorize")((p, df) => Sampling.winsorizePerGroup(df,
    p.getString("group_column"), p.getString("value_column"),
    pLo = p.getDouble("lo", 0.05), pHi = p.getDouble("hi", 0.95)))

  // ordered funnel completion per user
  transform("Funnel")((p, df) => Funnel.funnel(df, p.getString("user_column"),
    p.getString("type_column"), p.getString("ts_column"),
    p.getSeq[String]("steps")))
  // weekly cohort retention matrix
  transform("Retention")((p, df) => Funnel.retentionMatrix(df,
    p.getString("user_column"), p.getString("ts_column")))
  // corpus-wide top-k event-type n-grams over per-user ordered sequences
  transform("PathNgrams")((p, df) => Funnel.pathNgrams(df,
    p.getString("user_column"), p.getString("type_column"),
    p.getString("ts_column"), p.getString("tie_column"),
    n = p.getInt("n", 3), k = p.getInt("k", 10)))
  // funnel completion-latency quantiles
  transform("StepLatency")((p, df) => Funnel.stepLatency(df,
    p.getString("user_column"), p.getString("type_column"),
    p.getString("ts_column"), p.getSeq[String]("steps"),
    ps = p.getDoubles("ps")))
  // funnel drop-off curve (per-step reach + conversion rates)
  transform("ConversionCurve")((p, df) => Funnel.conversionCurve(df,
    p.getString("user_column"), p.getString("type_column"),
    p.getString("ts_column"), p.getSeq[String]("steps")))
  // first-order Markov transition matrix over event types
  transform("TransitionMatrix")((p, df) => Funnel.transitionMatrix(df,
    p.getString("user_column"), p.getString("type_column"),
    p.getString("ts_column"), p.getString("tie_column")))
  // market-basket association rules over user-level event-type baskets
  transform("AssociationRules")((p, df) => Funnel.associationRules(df,
    p.getString("user_column"), p.getString("type_column"),
    minPairUsers = p.getInt("min_pair_users", 2).toLong))
  // session-shape summary (bounce rate, sessions per user)
  transform("SessionSummary")((p, df) => Sessionize.sessionSummary(df,
    p.getString("key_column"), unix_millis(col(p.getString("ts_column"))),
    p.getString("order_column"), gapMillis = p.getInt("gap_millis").toLong))
  // session-duration quantiles (gap sessionize); ts column in µs since epoch
  transform("SessionStats")((p, df) => Sessionize.sessionStats(df,
    p.getString("user_column"), col(p.getString("ts_micros_column")),
    p.getString("order_column"),
    gapMicros = p.getInt("gap_seconds", 1800).toLong * 1000000L,
    ps = p.getDoubles("ps")))
  // ingest debounce: first event of each burst per key (chain semantics)
  transform("Debounce")((p, df) => Sessionize.debounce(df,
    p.getString("key_column"), col(p.getString("ts_column")),
    p.getString("order_column"), p.getLong("gap")))
  // step-signal time-weighted average per key (exact BIGINT numerator)
  transform("TimeWeightedAverage")((p, df) => Sessionize.timeWeightedAverage(
    df, p.getString("key_column"), col(p.getString("ts_column")),
    col(p.getString("value_column")), p.getString("order_column"),
    p.getInt("scale", 100)))

  // pairwise Pearson correlation over integer feature columns
  transform("FeatureCorr")((p, df) =>
    Stats.corrPairs(df, p.getSeq[String]("columns")))
  // per-group daily-volume anomaly flags
  transform("VolumeAnomaliesPerGroup")((p, df) =>
    Stats.volumeAnomaliesPerGroup(df, p.getString("ts_column"),
      p.getString("group_column"),
      zThreshold = p.getDouble("z_threshold", 2.0)))
  // functional-dependency profile a -> b
  transform("FunctionalDependency")((p, df) => Stats.functionalDependency(
    df, p.getString("a_column"), p.getString("b_column")))
  // exponential time-decay engagement score per entity
  transform("DecayedScore")((p, df) => Stats.decayedScore(df,
    p.getString("ts_column"), p.getString("key_column"),
    p.getString("value_column"), p.getDouble("half_life_days", 7.0)))
  // one-pass Misra-Gries heavy hitters over an item column
  transform("HeavyHitters")((p, df) => Stats.heavyHitters(df,
    p.getString("item_column"), p.getInt("k")))
  // join-key skew report (the measured saltFactor input)
  transform("KeySkewReport")((p, df) =>
    Stats.keySkewReport(df, p.getString("key_column")))
  // watermark-sizing lateness report (quantiles of event lateness)
  transform("WatermarkLateness")((p, df) => Stats.watermarkLateness(df,
    p.getString("ts_column"), p.getString("seq_column"),
    p.getString("key_column"), p.getDoubles("ps", Seq(0.5, 0.95, 0.99))))
  // per-group quantiles via a mergeable KLL-style sketch (exact below k)
  transform("QuantileSketch")((p, df) => Stats.sketchQuantilesPerGroup(df,
    p.getString("group_column"), p.getString("value_column"),
    p.getDoubles("ps", Seq(0.5, 0.95, 0.99)), p.getInt("k", 4096)))
  // rolling daily-volume trend (observed-day moving window)
  transform("RollingVolume")((p, df) => Stats.rollingDailyVolume(df,
    p.getString("ts_column"), window = p.getInt("window_days", 7)))
  // per-group burstiness (Fano factor + CV of daily counts)
  transform("Burstiness")((p, df) => Stats.burstiness(df,
    p.getString("ts_column"), p.getString("group_column")))
  // daily-volume anomaly flags over a timestamp column
  transform("VolumeAnomalies")((p, df) => Stats.volumeAnomalies(df,
    p.getString("ts_column"), zThreshold = p.getDouble("z_threshold", 2.0)))
  // per-group distinct-entity intensity (exact countDistinct)
  transform("DistinctIntensity")((p, df) => Stats.distinctIntensity(df,
    p.getString("group_column"), p.getString("id_column")))
  // top-k values per group (mode report)
  transform("TopValues")((p, df) => Stats.topValuesPerGroup(df,
    p.getString("group_column"), p.getString("value_column"),
    k = p.getInt("k", 10)))
  // per-group Pearson correlation of two integer columns
  transform("CorrPerGroup")((p, df) => Stats.corrPerGroup(df,
    p.getString("group_column"), p.getString("x_column"),
    p.getString("y_column")))
  // KS distance between two samples of an integer column
  transform("KsDistance")((p, df) => Stats.ksDistance(df,
    p.input("other_dir"), p.getString("value_column")))
  // day-of-week x hour seasonality heat map
  transform("SeasonalityProfile")((p, df) =>
    Stats.seasonalityProfile(df, p.getString("ts_column")))
  // confusion matrix between actual and predicted categoricals
  transform("ConfusionMatrix")((p, df) => Stats.confusionMatrix(df,
    p.getString("actual_column"), p.getString("predicted_column"),
    maxCells = p.getInt("max_cells", 100000).toLong))
  // per-group fixed-width histogram of a numeric column
  transform("GroupedHistogram")((p, df) => Stats.groupedHistogram(df,
    p.getString("group_column"), p.getString("value_column"),
    binWidth = p.getInt("bin_width").toLong))
  // Cohen's kappa agreement between two categorical columns
  transform("CohenKappa")((p, df) => Stats.cohenKappa(df,
    p.getString("a_column"), p.getString("b_column"),
    maxCells = p.getInt("max_cells", 100000).toLong))
  // entropies + mutual information for two categorical columns
  transform("MutualInformation")((p, df) => Stats.mutualInformation(df,
    p.getString("a_column"), p.getString("b_column"),
    maxCells = p.getInt("max_cells", 100000).toLong))
  // Lorenz-curve vertices of row mass across entities
  transform("LorenzCurve")((p, df) =>
    Stats.lorenzCurve(df, p.getString("entity_column")))
  // group-mass concentration: Gini of row counts across groups
  transform("GiniConcentration")((p, df) =>
    Stats.giniConcentration(df, p.getString("group_column")))
  // categorical association: χ² + Cramér's V for two columns
  transform("ContingencyAssociation")((p, df) => Stats.contingencyAssociation(
    df, p.getString("a_column"), p.getString("b_column"),
    maxCells = p.getInt("max_cells", 100000).toLong))

  // column-profile report (null rates + exact distinct counts)
  transform("ColumnProfile")((p, df) =>
    Checks.columnProfile(df, p.getSeq[String]("columns")))
  // symmetric key reconciliation between two tables
  transform("KeyReconciliation")((p, df) => Checks.keyReconciliation(df,
    p.input("right_dir"), p.getString("left_key"), p.getString("right_key")))
  // (check_name, violations, total, passed) report; rules: not_null:c,
  // in_range:c:lo:hi, matches:c:regex, unique:a,b
  transform("QualityChecks")((p, df) =>
    Checks.run(df, p.getSeq[String]("rules").map(Checks.parseRule)))
  // k-anonymity privacy audit over quasi-identifier columns
  transform("KAnonymity")((p, df) => Checks.kAnonymityReport(df,
    p.getSeq[String]("quasi_columns"), p.getInt("k")))
  // l-diversity privacy audit (quasi classes x distinct sensitive)
  transform("LDiversity")((p, df) => Checks.lDiversityReport(df,
    p.getSeq[String]("quasi_columns"), p.getString("sensitive_column"),
    p.getInt("l")))
  // epsilon-DP released group counts (deterministic seeded Laplace)
  transform("DpCounts")((p, df) => Privacy.dpCounts(df,
    p.getSeq[String]("group_columns"), p.getDouble("epsilon"),
    p.getStringOpt("seed").getOrElse("dp")))
  // epsilon-DP noised group sums with per-row clipping
  transform("DpSum")((p, df) => Privacy.dpSum(df,
    p.getSeq[String]("group_columns"), p.getString("value_column"),
    p.getDouble("clip"), p.getDouble("epsilon"),
    p.getStringOpt("seed").getOrElse("dp")))

  // snapshot reconciliation of the NEW source_dir against previous_dir
  transform("SnapshotDiff")((p, df) => Reconcile.diffFrames(
    p.input("previous_dir"), df, p.getString("id_column"),
    p.getSeq[String]("content_columns")))
  // category-mix drift of the NEW source_dir against previous_dir
  transform("CategoryDrift")((p, df) => Reconcile.categoryDrift(
    p.input("previous_dir"), df, p.getString("category_column")))
  // numeric drift monitoring over fixed [lo, hi) x n_bins binning
  transform("NumericDrift")((p, df) => Reconcile.numericDrift(
    p.input("previous_dir"), df, p.getString("value_column"),
    lo = p.getInt("lo", 0).toLong, hi = p.getIntOpt("hi").get.toLong,
    nBins = p.getInt("n_bins", 10)))

  // depth×width count-min sketch; merge_dir rolls a saved sketch in
  transform("CmsSketch") { (p, df) =>
    val built = FreqSketch.cmsBuild(df, p.getString("item_column"),
      depth = p.getInt("depth", 4), width = p.getInt("width", 4096))
    p.getStringOpt("merge_dir").fold(built)(d =>
      FreqSketch.cmsMerge(built, p.read(d)))
  }
  transform("CmsEstimate")((p, df) => FreqSketch.cmsEstimate(
    p.input("sketch_dir"), df, p.getString("item_column"),
    depth = p.getInt("depth", 4), width = p.getInt("width", 4096)))
  // join-size estimate from two saved CMS artifacts (AMS inner product)
  transform("CmsJoinSize")((p, df) =>
    FreqSketch.cmsJoinSizeEstimate(df, p.parquet("other_sketch_dir")))
  // HLL register sketch (2^precision ints per group); merge_dir max-merges
  transform("HllSketch") { (p, df) =>
    val prec = p.getInt("precision", 8)
    val g = p.getString("group_column")
    val built = DistinctSketch.hllSketch(df, g, p.getString("id_column"), prec)
    p.getStringOpt("merge_dir").fold(built)(d =>
      DistinctSketch.hllMerge(Seq(built, p.read(d)), g, prec))
  }
  // distinct-count report from a saved HLL sketch artifact
  transform("HllEstimate")((p, df) => DistinctSketch.hllEstimate(df,
    p.getString("group_column"), p.getInt("precision", 8)))

  // as-of join (sort-fill, one exchange): latest right_dir row at or before
  // each source_dir row's time per key; bucket_width (integer time units)
  // switches to the hot-key (key, time bucket) variant, backward only
  transform("AsOfJoin") { (p, df) =>
    val right = p.input("right_dir")
    val joinType = p.getStringOpt("join_type").getOrElse("left")
    val direction = p.getStringOpt("direction").getOrElse("backward")
    val bucketed = p.getOpt[Any]("bucket_width").isDefined
    require(!bucketed || direction == "backward",
      "bucket_width supports backward direction only")
    val Seq(lk, rk, lt, rt, tb) = Seq("left_key", "right_key", "left_time",
      "right_time", "tie_break").map(k => col(p.getString(k)))
    if (bucketed) AsOfJoin.bucketed(df, right, lk, rk, lt, rt, tb,
      p.getLong("bucket_width"), joinType)
    else AsOfJoin(df, right, lk, rk, lt, rt, tb, joinType, direction)
  }
  // left probes valued on the line between the key's bracketing right rows
  transform("AsOfInterpolate")((p, df) => AsOfJoin.interpolate(df,
    p.input("right_dir"), p.getString("left_key"), p.getString("right_key"),
    p.getString("left_time"), p.getString("right_time"),
    p.getString("value_column"), p.getString("tie_break")))
  // bucketed range join (never a nested loop): points in intervals_dir ranges
  transform("RangeJoinPoints")((p, df) => RangeJoin.pointInInterval(df,
    p.input("intervals_dir"), p.getString("point_column"),
    p.getString("lo_column"), p.getString("hi_column"),
    p.getLong("bucket_width"), keyCols = p.getSeq[String]("key_columns"),
    inclusiveEnd = p.getBoolean("inclusive_end", default = true)))
  // all overlapping (left, right) interval pairs, deduped per first bucket
  transform("IntervalOverlap")((p, df) => RangeJoin.intervalOverlap(df,
    p.input("right_dir"), p.getString("left_lo"), p.getString("left_hi"),
    p.getString("right_lo"), p.getString("right_hi"),
    p.getLong("bucket_width"), keyCols = p.getSeq[String]("key_columns")))
  // gaps-and-islands flatten: union of [lo, hi] ranges per key
  transform("MergeIntervals")((p, df) => RangeJoin.mergeIntervals(df,
    p.getSeq[String]("key_columns"), p.getString("lo_column"),
    p.getString("hi_column")))
  // range-sorted export + per-file (lo, hi) manifest: the write half of
  // file pruning (readers: Layout.readPruned)
  transform("SortedExportManifest") { (p, df) =>
    Layout.writeSortedWithManifest(p.spark, df, p.getString("data_dir"),
      p.getString("sort_column"), p.getInt("num_files"),
      p.getString("manifest_dir"))
    p.parquet("manifest_dir")
  }

  // PageRank over an edge table (src, dst) with configurable columns
  transform("PageRank") { (p, df) =>
    val wOpt = p.getStringOpt("weight_column")
    val cols = Seq(
      col(p.getStringOpt("src_column").getOrElse("src")).as("src"),
      col(p.getStringOpt("dst_column").getOrElse("dst")).as("dst")) ++
      wOpt.map(w => col(w))
    GraphRank.pageRank(df.select(cols: _*), p.getInt("max_iters", 20),
      p.getDouble("tol", 1e-6), p.getDouble("damping", 0.85),
      weightCol = wOpt)
  }
  // HITS hubs/authorities over an edge table (bipartite importance)
  transform("Hits")((p, df) => GraphRank.hitsScores(df.select(
    col(p.getStringOpt("src_column").getOrElse("src")).as("src"),
    col(p.getStringOpt("dst_column").getOrElse("dst")).as("dst")),
    p.getInt("iters", 2)))
  // Fellegi–Sunter linkage: blocked pairs scored into match/possible
  transform("RecordLinkage") { (p, df) =>
    val right = p.input("right_dir")
    val rules = p.getSeq[Map[String, Any]]("rules").map { m =>
      def num(k: String, v: Any) = number(s"rules.$k", v).longValue
      Linkage.FieldRule(m("left").toString, m("right").toString,
        num("agree", m("agree")), num("disagree", m("disagree")),
        m.getOrElse("kind", "exact").toString,
        num("max_dist", m.getOrElse("max_dist", 0)).toInt)
    }
    Linkage.linkTable(df, right, p.getSeq[String]("block_columns"), rules,
      p.getLong("upper"), p.getLong("lower"))
  }
}
