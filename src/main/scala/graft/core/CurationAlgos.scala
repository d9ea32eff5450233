package graft.core

import graft.core.TransformAlgorithm.Out
import graft.operators._
import org.apache.spark.sql.functions.col

/** Corpus curation: near-dup and substring dedup, decontamination, quality
  * and classification filters, DSIR, packing, redaction and media dedup.
  */
object CurationAlgos extends AlgoFamily {
  transform("CorpusDedup")((p, df) => Dedup.dedupCorpus(df,
    p.getString("id_column"), p.getString("text_column"),
    shingleSize = p.getInt("shingle_size", 3), k = p.getInt("minhash_k", 32),
    bands = p.getInt("bands", 8),
    threshold = p.getDouble("jaccard_threshold", 0.5)))
  transform("CorpusDedupClusters") { (p, df) =>
    val cd = Dedup.dedupCorpusByComponents(df, p.getString("id_column"),
      p.getString("text_column"), shingleSize = p.getInt("shingle_size", 3),
      k = p.getInt("minhash_k", 32), bands = p.getInt("bands", 8),
      threshold = p.getDouble("jaccard_threshold", 0.5),
      // optional survivor policy: keep the highest-scored member of
      // each cluster instead of the min id
      scoreCol = p.getStringOpt("score_column"))
    Out(cd.frame, () => cd.release())
  }
  transform("DedupArtifacts")((p, df) => Dedup.dedupArtifacts(df,
    p.getString("id_column"), p.getString("text_column")))
  // source_dir: the INCOMING batch against the landed existing_dir; a saved
  // DedupArtifacts artifacts_dir spares re-signing the landed side
  transform("IncrementalDedup")((p, df) => Dedup.dedupIncrement(
    p.input("existing_dir"), df, p.getString("id_column"),
    p.getString("text_column"), threshold = p.getDouble("threshold", 0.5),
    artifacts = p.getStringOpt("artifacts_dir").map(p.read)))
  // dedup telemetry: near-dup cluster-size histogram of the corpus
  transform("DedupStats") { (p, df) =>
    val id = p.getString("id_column")
    val text = p.getString("text_column")
    val survivors = Dedup.exactDedup(df, id, text)
    val cand = Dedup.minhashCandidates(survivors, id, text,
      shingleSize = p.getInt("shingle_size", 3),
      k = p.getInt("minhash_k", 32), bands = p.getInt("bands", 8))
    val near = Dedup.jaccardVerify(cand, survivors, id, text,
        p.getInt("shingle_size", 3))
      .filter(col("jaccard") >= p.getDouble("jaccard_threshold", 0.5))
      .select(col("id_a"), col("id_b"))
    val cd = Dedup.clusterStats(near)
    Out(cd.frame, () => cd.release())
  }
  // short-text fuzzy dedup: minhash candidates verified by Levenshtein
  transform("EditDistancePairs") { (p, df) =>
    val id = p.getString("id_column")
    val text = p.getString("text_column")
    Dedup.editDistanceVerify(Dedup.minhashCandidates(df, id, text), df, id,
      text, p.getInt("max_distance"))
  }
  // b-bit minhash estimates: source = pair list, docs_dir = corpus
  transform("BbitEstimate")((p, df) => Dedup.bbitEstimatePairs(df,
    p.parquet("docs_dir"), p.getString("id_column"),
    p.getString("text_column"), p.getInt("shingle_size", 3),
    p.getInt("k", 32), p.getInt("b", 8)))
  // pair-set eval: source = candidate pairs, truth_dir = truth pairs
  transform("PairSetEval")((p, df) =>
    Dedup.pairSetEval(df, p.parquet("truth_dir")))
  // winnowing (MOSS) local-fingerprint candidate pairs
  transform("WinnowCandidates")((p, df) => Dedup.winnowCandidates(df,
    p.getString("id_column"), p.getString("text_column"),
    p.getInt("shingle_size", 3), p.getInt("window", 4),
    p.getInt("min_shared", 2)))
  // SemDeDup: near-dup pairs within k-means clusters (or centroids_dir)
  transform("SemDedup") { (p, df) =>
    val id = p.getString("id_column")
    val vec = p.getString("vector_column")
    val cent = p.getStringOpt("centroids_dir").map(p.spark.read.parquet(_))
      .getOrElse(Similarity.kmeansCentroids(df, id, vec, p.getInt("k", 128),
        p.getInt("max_iters", 10)))
    Dedup.semDedupPairs(df, id, vec, cent, p.getDouble("threshold"))
  }
  // weak supervision: near-dups of labeled docs inherit the majority label
  transform("LabelPropagation") { (p, df) =>
    val id = p.getString("id_column")
    val text = p.getString("text_column")
    val pairs = Dedup.jaccardVerify(Dedup.minhashCandidates(df, id, text),
        df, id, text)
      .filter(col("jaccard") >= p.getDouble("jaccard_threshold", 0.5))
      .select(col("id_a"), col("id_b"))
    Dedup.propagateLabels(df, id, p.getString("label_column"), pairs)
  }
  // leakage-safe split: near-dup components share one split key
  transform("LeakageSafeSplit") { (p, df) =>
    val id = p.getString("id_column")
    val text = p.getString("text_column")
    val pairs = Dedup.jaccardVerify(
        Dedup.minhashCandidates(df, id, text,
          shingleSize = p.getInt("shingle_size", 3),
          k = p.getInt("minhash_k", 32), bands = p.getInt("bands", 8)),
        df, id, text, shingleSize = p.getInt("shingle_size", 3))
      .filter(col("jaccard") >= p.getDouble("jaccard_threshold", 0.5))
      .select(col("id_a"), col("id_b"))
    Dedup.leakageSafeSplit(df, id, pairs,
      p.getSeq[Map[String, Any]]("splits").map(m =>
        m("name").toString -> m("weight").toString.toDouble))
  }
  // metadata-conflict audit over exact-duplicate text groups
  transform("ConflictingMetadata")((p, df) => Dedup.conflictingMetadata(df,
    p.getString("text_column"), p.getString("attr_column")))
  // chunk-granularity novelty vs smaller-id documents
  transform("ChunkNovelty")((p, df) => Dedup.chunkNovelty(df,
    p.getString("id_column"), p.getString("text_column"),
    p.getInt("chunk_tokens")))
  // provenance-overlap report: dup doc pairs per unordered source pair
  transform("CrossSourceDups")((p, df) => Dedup.crossSourceDupMatrix(df,
    p.getString("id_column"), p.getString("text_column"),
    p.getString("source_column")))
  // per-doc coverage by corpus-repeated width-token spans (Lee et al. 2022)
  transform("RepeatedSpans")((p, df) => Dedup.repeatedSpans(df,
    p.getString("id_column"), p.getString("text_column"), p.getInt("width")))
  // span-count artifacts over the landed corpus (the delta-load face)
  transform("SpanArtifacts")((p, df) => Dedup.spanArtifacts(df,
    p.getString("id_column"), p.getString("text_column"), p.getInt("width")))
  // batch span report against saved artifacts: landed text never read
  transform("SpanIncrement")((p, df) => Dedup.repeatedSpansIncrement(df,
    p.getString("id_column"), p.getString("text_column"), p.getInt("width"),
    p.parquet("artifacts_dir")))
  // drop every token inside a duplicated span and reassemble the text
  transform("RemoveRepeatedSpans")((p, df) => Dedup.removeRepeatedSpans(df,
    p.getString("id_column"), p.getString("text_column"), p.getInt("width")))

  transform("Decontaminate") { (p, df) =>
    def shingles = p.getInt("expected_shingles", 1000000).toLong
    p.getStringOpt("benchmark_artifacts_dir") match {
      // saved-artifact path: the benchmark is never re-shingled —
      // load the DecontaminateArtifacts table, rebuild the bloom once
      case Some(artsDir) =>
        val pb = Decontaminate.prepareFromArtifacts(
          p.spark.read.parquet(artsDir), shingles)
        Out(Decontaminate.decontaminatePrepared(df, p.getString("id_column"),
          p.getString("text_column"), pb, p.getInt("min_overlap", 1)),
          () => pb.release())
      case None =>
        val bench = p.input("benchmark_dir")
        Decontaminate.decontaminate(df, p.getString("id_column"),
          p.getString("text_column"), bench,
          p.getString("benchmark_text_column"),
          n = p.getInt("ngram_size", 8),
          minOverlap = p.getInt("min_overlap", 1),
          // bloom prefilter for eval sets too big to broadcast
          // (exactness-preserving; see Decontaminate.overlapsBloom)
          bloom = p.getBoolean("use_bloom"), expectedShingles = shingles)
    }
  }
  // decontamination benchmark artifacts (shingle-hash table + n)
  transform("DecontaminateArtifacts")((p, df) =>
    Decontaminate.benchmarkArtifacts(df, p.getString("text_column"),
      p.getInt("ngram_size", 8)))
  // drop rows within cosine threshold of a benchmark vector (sign-LSH)
  transform("SemanticDecontaminate")((p, df) =>
    Decontaminate.decontaminateSemantic(df, p.getString("id_column"),
      p.getString("vector_column"), p.parquet("benchmark_dir"),
      p.getString("benchmark_id_column"),
      p.getString("benchmark_vector_column"), p.getDouble("threshold"),
      p.getInt("bits", 8), p.getInt("tables", 4)))
  // per-doc n-gram novelty against a reference corpus
  transform("NoveltyScores") { (p, df) =>
    val ref = p.input("reference_dir")
    Decontaminate.noveltyScores(df, p.getString("id_column"),
      p.getString("text_column"), ref, p.getString("reference_text_column"),
      n = p.getInt("ngram_size", 3))
  }

  // multinomial NB trained on non-null labels, scored over EVERY row with
  // predicted / actual / correct / score audit columns
  transform("NaiveBayesClassify") { (p, df) =>
    val tok = p.getStringOpt("tokenizer").getOrElse("words") match {
      case "char_trigrams" => Classify.charTrigrams
      case "words" => Classify.wordTokens
      case other => throw new IllegalArgumentException(
        s"unknown tokenizer: $other (words | char_trigrams)")
    }
    Classify.naiveBayesClassify(df, p.getString("id_column"),
      p.getString("text_column"), p.getString("label_column"),
      col(p.getString("label_column")).isNotNull, p.getInt("vocab_size"), tok)
  }
  // confident-joint label-noise audit (Northcutt et al. 2021): per-class
  // mean-self-score thresholds, (given, suggested) confident counts
  transform("ConfidentJoint")((p, df) => Classify.confidentJoint(df,
    p.getString("id_column"), p.getString("text_column"),
    p.getString("label_column"), col(p.getString("label_column")).isNotNull,
    p.getInt("vocab_size")))
  // NB model artifact: (label, token, loglik, logprior) for later scoring
  transform("NaiveBayesModel")((p, df) => Classify.naiveBayesModel(
    df.filter(col(p.getString("label_column")).isNotNull),
    p.getString("text_column"), p.getString("label_column"),
    p.getInt("vocab_size")))
  // scoring from a saved model artifact (train once, score many)
  transform("NaiveBayesScore")((p, df) => Classify.naiveBayesScore(df,
    p.parquet("model_dir"), p.getString("id_column"),
    p.getString("text_column")))

  // DSIR weights: hashed n-gram likelihood ratio, target corpus over source
  transform("DsirWeights")((p, df) => Dsir.importanceWeights(df,
    p.parquet("target_corpus_dir"), p.getString("id_column"),
    p.getString("text_column"), p.getInt("buckets")))
  // the DSIR model artifact: the (bucket, diff) log-ratio table
  transform("DsirArtifacts")((p, df) => Dsir.diffArtifacts(df,
    p.parquet("target_corpus_dir"), p.getString("id_column"),
    p.getString("text_column"), p.getInt("buckets")))
  // scoring from a saved DSIR artifact (amortized regime)
  transform("DsirScore")((p, df) => Dsir.scoreWithDiff(df,
    p.parquet("model_dir"), p.getString("id_column"),
    p.getString("text_column"), p.getInt("buckets")))
  // the selection face: Gumbel-top-k resample of the weighted corpus
  transform("DsirSelect")((p, df) => Dsir.select(df,
    p.parquet("target_corpus_dir"), p.getString("id_column"),
    p.getString("text_column"), p.getInt("buckets"), p.getInt("k")))

  transform("SequencePacking") { (p, df) =>
    val packed = Packing.packDocuments(df, p.getString("id_column"),
      p.getString("text_column"),
      budgetTokens = p.getInt("budget_tokens").toLong)
    Out(packed.frame, () => packed.release())
  }
  // packing-efficiency report (chunk-fill quantiles + mean fill)
  transform("PackingStats") { (p, df) =>
    val budget = p.getInt("budget_tokens").toLong
    val packed = Packing.packDocuments(df, p.getString("id_column"),
      p.getString("text_column"), budgetTokens = budget)
    Out(Packing.packingStats(packed.frame, "n_tokens", budget,
      p.getDoubles("ps")), () => packed.release())
  }
  // sliding-window text chunking (overlapping context windows)
  transform("ChunkText")((p, df) => Packing.chunkText(df,
    p.getString("id_column"), p.getString("text_column"),
    p.getInt("chunk_tokens"), p.getInt("stride", p.getInt("chunk_tokens"))))
  transform("CorpusShuffle")((p, df) => Shuffling.shuffleIntoShards(df,
    p.getString("id_column"), p.getInt("num_shards")))
  // exact corpus summary (tall metric/value); per_group: one card per source
  transform("DatasetCard") { (p, df) =>
    if (p.getOpt[Boolean]("per_group").getOrElse(false))
      DatasetCard.reportPerGroup(df, p.getString("id_column"),
        p.getString("text_column"), p.getString("source_column"))
    else DatasetCard.report(df, p.getString("id_column"),
      p.getString("text_column"), p.getString("source_column"))
  }

  // per-group PII exposure report
  transform("PiiStats")((p, df) => Redact.piiStats(df,
    p.getString("group_column"), p.getString("text_column")))
  // salted pseudonymization of identifier columns
  transform("Pseudonymize")((p, df) => Redact.pseudonymize(df,
    p.getSeq[String]("columns"), p.getString("salt")))
  transform("PiiRedaction")((p, df) =>
    Redact.withRedactions(df, p.getString("text_column")))
  // byte-level media near-dup pairs (no decode; simhash over hex chunks)
  transform("MediaNearDup")((p, df) => Multimodal.mediaNearDupPairs(df,
    p.getString("id_column"), p.getString("payload_column"),
    p.getInt("max_hamming", 7), p.getInt("chunk_bytes", 4)))
  // exact media dedup: min-id survivor per distinct payload bytes
  transform("MediaDedup")((p, df) => Multimodal.dedupExactMedia(df,
    p.getString("id_column"), p.getString("payload_column")))
}
