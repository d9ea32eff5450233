package graft.core

import graft.operators._
import org.apache.spark.sql.functions.col

/** Text analysis: language and script profiles, vocabulary and n-gram
  * statistics, LM quality scores, BPE, augmentation and normalization.
  */
object TextAlgos extends AlgoFamily {
  // language id + confidence margin per document
  transform("LangId") { (p, df) =>
    val text = col(p.getString("text_column"))
    df.withColumn("lang_pred", TextAnalysis.langId(text))
      .withColumn("lang_margin", TextAnalysis.langIdMargin(text))
  }
  // mixed-language (code-switching) report per document
  transform("MixedLanguageReport")((p, df) =>
    TextAnalysis.mixedLanguageReport(df, p.getString("id_column"),
      p.getString("text_column"), p.getInt("chunk_tokens", 20)))
  // per-group charset profile (ascii/digit/space fractions)
  transform("CharsetProfile")((p, df) => TextAnalysis.charsetProfile(df,
    p.getString("group_column"), p.getString("text_column")))
  // writing-system character-mass profile per group
  transform("ScriptProfile")((p, df) => TextAnalysis.scriptProfile(df,
    p.getString("group_column"), p.getString("text_column")))
  // tokenizer fertility (subword per whitespace token) per group
  transform("TokenizerFertility")((p, df) => TextAnalysis.tokenizerFertility(
    df, p.getString("group_column"), p.getString("text_column")))
  // per-group vocabulary concentration (TTR + Simpson)
  transform("VocabConcentration")((p, df) => TextAnalysis.vocabConcentration(
    df, p.getString("group_column"), p.getString("text_column")))
  // corpus-mixture report (doc/token shares per group)
  transform("MixtureReport")((p, df) => TextAnalysis.mixtureReport(df,
    p.getString("group_column"), p.getString("text_column")))
  // top-k frequent terms per group (vocabulary report)
  transform("TopTerms")((p, df) => TextAnalysis.topTermsPerGroup(df,
    p.getString("group_column"), p.getString("text_column"), p.getInt("k")))
  // corpus-level PMI collocations (phrase mining)
  transform("Collocations")((p, df) => TextAnalysis.collocations(df,
    p.getString("text_column"), minCount = p.getInt("min_count", 3).toLong,
    k = p.getInt("k", 20)))
  // Zipf-slope fit over the top-K term frequencies
  transform("ZipfSlope")((p, df) => TextAnalysis.zipfSlope(df,
    p.getString("text_column"), topK = p.getInt("top_k", 1000)))
  // vocabulary drift: appeared/vanished terms vs the previous delivery
  transform("VocabDiff")((p, df) => TextAnalysis.vocabDiff(
    p.input("previous_dir"), df, p.getString("text_column"),
    minCount = p.getInt("min_count", 2).toLong))

  // bigram-LM cross-entropy quality score (order-sensitive q62)
  transform("BigramQuality")((p, df) => TextAnalysis.bigramLogProbScore(df,
    p.getString("id_column"), p.getString("text_column"),
    p.getInt("model_size", 100000), p.getInt("history_size", 10000),
    p.getDouble("add_k", 0.5)))
  // frozen bigram model build (write once, score many)
  transform("BigramModel")((p, df) => TextAnalysis.bigramModel(df,
    p.getString("text_column"), p.getInt("model_size", 100000),
    p.getInt("history_size", 10000)))
  // score a corpus against a saved bigram model (model_dir)
  transform("BigramScore") { (p, df) =>
    val model = p.input("model_dir")
    TextAnalysis.scoreWithBigramModel(df, p.getString("id_column"),
      p.getString("text_column"), model, p.getDouble("add_k", 0.5))
  }
  // Min-K% Prob (Shi et al. 2023): mean logprob of the k% least likely
  // transitions under a saved reference LM
  transform("MinKProb") { (p, df) =>
    val model = p.input("model_dir")
    TextAnalysis.minKProbScore(df, p.getString("id_column"),
      p.getString("text_column"), model, p.getDouble("k_frac", 0.2),
      p.getDouble("add_k", 0.5))
  }
  // scores against a FROZEN vocabulary_dir (built once by UnigramVocabulary
  // on a reference corpus) when given, else one computed from the corpus
  transform("UnigramQuality")((p, df) =>
    p.getStringOpt("vocabulary_dir") match {
      case Some(vocabDir) => TextAnalysis.scoreWithVocabulary(df,
        p.getString("id_column"), p.getString("text_column"),
        p.spark.read.parquet(vocabDir))
      case None => TextAnalysis.unigramLogProbScore(df,
        p.getString("id_column"), p.getString("text_column"),
        vocabSize = p.getInt("vocab_size", 10000))
    })
  transform("UnigramVocabulary")((p, df) => TextAnalysis.unigramVocabulary(df,
    p.getString("text_column"), vocabSize = p.getInt("vocab_size", 10000)))
  // Flesch reading-ease quality feature per document
  transform("Readability")((p, df) => TextAnalysis.readabilityScores(df,
    p.getString("id_column"), p.getString("text_column")))
  // zlib compression-ratio quality signal per document
  transform("CompressionSignals")((p, df) => TextAnalysis.compressionSignals(
    df, p.getString("id_column"), p.getString("text_column")))
  transform("RepetitionSignals")((p, df) => TextAnalysis.repetitionSignals(
    df, p.getString("id_column"), p.getString("text_column")))
  // cross-document boilerplate: per-doc share of corpus-frequent n-grams
  transform("Boilerplate")((p, df) => TextAnalysis.boilerplateSignals(df,
    p.getString("id_column"), p.getString("text_column"),
    p.getInt("ngram_size", 3), p.getInt("min_docs", 5)))
  // the Gopher quality ruleset (Rae et al. 2021): report + filter
  for ((name, rule) <- Seq("GopherRules" -> TextAnalysis.gopherFlags _,
      "GopherFilter" -> TextAnalysis.gopherFilter _))
    transform(name)((p, df) => rule(df, p.getString("id_column"),
      p.getString("text_column"), p.getInt("min_words", 50),
      p.getInt("max_words", 100000), p.getDouble("min_mean_len", 3.0),
      p.getDouble("max_mean_len", 10.0), p.getDouble("max_symbol_ratio", 0.1),
      p.getDouble("min_alpha_ratio", 0.8), p.getInt("min_stopwords", 2)))
  // C4-style blocklist blast-radius report per term
  transform("BlocklistReport")((p, df) => TextAnalysis.blocklistReport(df,
    p.getString("id_column"), p.getString("text_column"),
    p.getSeq[String]("terms")))
  // C4-style blocklist filter (keep docs with zero blocked tokens)
  transform("BlocklistFilter")((p, df) => TextAnalysis.blocklistFilter(df,
    p.getString("text_column"), p.getSeq[String]("terms")))
  // URL domain-mix report over a text corpus
  transform("UrlDomains")((p, df) => TextAnalysis.urlDomains(df,
    p.getString("id_column"), p.getString("text_column")))
  // URL dedup report: canonical_url, count, surface variants, min-id survivor
  transform("UrlCanonicalReport")((p, df) => TextAnalysis.canonicalUrlReport(
    df, p.getString("id_column"), p.getString("url_column")))
  // ROUGE-n: clipped n-gram precision/recall/F1 of candidate vs reference
  transform("RougeEval")((p, df) => TextAnalysis.rougeN(df,
    p.getString("id_column"), p.getString("candidate_column"),
    p.getString("reference_column"), p.getInt("ngram_size", 2)))

  // canonical text normalization: NFC + lowercase + whitespace collapse
  transform("NormalizeText")((p, df) => df.withColumn(
    p.getStringOpt("output_column").getOrElse("norm_text"),
    TextAnalysis.normalizeText(col(p.getString("text_column")))))
  // homoglyph folding + evasion-signal count
  transform("NormalizeHomoglyphs") { (p, df) =>
    val tc = p.getString("text_column")
    df.withColumn("n_homoglyphs", TextAnalysis.homoglyphCount(col(s"`$tc`")))
      .withColumn(tc, TextAnalysis.normalizeHomoglyphs(col(s"`$tc`")))
  }
  // T5-style span-mask augmentation (seeded block md5)
  transform("AugmentSpanMask")((p, df) => TextAnalysis.augmentSpanMask(df,
    p.getString("id_column"), p.getString("text_column"),
    p.getDouble("rate", 0.15), p.getInt("block_size", 5),
    p.getString("seed")))
  // replayable token-dropout augmentation (seeded positional md5)
  transform("AugmentTokenDropout")((p, df) =>
    TextAnalysis.augmentTokenDropout(df, p.getString("id_column"),
      p.getString("text_column"), p.getDouble("rate", 0.1),
      p.getString("seed")))

  // BPE tokenizer training: learn n_merges merge rules (write once)
  transform("BpeVocab")((p, df) => Bpe.learnMerges(df,
    p.getString("text_column"), p.getInt("n_merges")))
  // replay a saved BPE merge table onto a corpus vocabulary
  transform("BpeSegment")((p, df) => Bpe.segmentVocabulary(df,
    p.getString("text_column"), p.parquet("merges_dir"),
    p.getInt("max_rules", 64)))
  // per-doc subword counts under a saved segmented vocabulary
  transform("BpeTokenCounts")((p, df) => Bpe.subwordCounts(df,
    p.getString("id_column"), p.getString("text_column"),
    p.parquet("vocab_dir")))
}
