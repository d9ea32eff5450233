package graft.core

import graft.operators.Similarity
import org.apache.spark.sql.functions.col

/** Retrieval and vectors: BM25, k-means and IVF/PQ indexes, embedding QA,
  * re-ranking and retrieval evaluation.
  */
object RetrievalAlgos extends AlgoFamily {
  // BM25 top-k of queries_dir over the corpus; df > max_df_fraction pruned
  transform("Bm25Retrieval")((p, df) => Similarity.bm25TopK(df,
    p.getString("id_column"), p.getString("text_column"),
    p.parquet("queries_dir"), p.getString("query_id_column"),
    p.getString("query_text_column"), p.getInt("k"), p.getDouble("k1", 1.2),
    p.getDouble("b", 0.75), p.getDouble("max_df_fraction", 0.1)))
  // BM25 (term, df, n, sdl) corpus statistics, built once per landed corpus
  transform("Bm25Artifacts")((p, df) => Similarity.bm25Artifacts(df,
    p.getString("id_column"), p.getString("text_column")))
  // stateless BM25 scoring of a batch against SAVED corpus statistics
  transform("Bm25Score")((p, df) => Similarity.bm25ScoreAgainst(df,
    p.getString("id_column"), p.getString("text_column"),
    p.parquet("queries_dir"), p.getString("query_id_column"),
    p.getString("query_text_column"), p.parquet("artifacts_dir"),
    p.getDouble("k1", 1.2), p.getDouble("b", 0.75),
    p.getDouble("max_df_fraction", 0.1)))
  // reciprocal-rank fusion of source_dir and other_rankings_dirs rankings
  transform("FuseRankings")((p, df) => Similarity.fuseRankings(
    df +: p.getSeq[String]("other_rankings_dirs").map(p.spark.read.parquet(_)),
    p.getInt("k"), p.getDouble("rrf_k", 60.0)))
  // retrieval evaluation: recall@k + MRR of results vs a truth table
  transform("RetrievalEval")((p, df) =>
    Similarity.retrievalEval(df, p.parquet("truth_dir")))
  // MMR diversity re-rank of a (query, doc, relevance, vector) table
  transform("MmrRerank")((p, df) => Similarity.mmrRerank(df,
    p.getString("query_id_column"), p.getString("doc_id_column"),
    p.getString("relevance_column"), p.getString("vector_column"),
    p.getInt("k"), p.getDouble("lambda", 0.7)))
  // hard-negative mining: k nearest different-label vectors per query
  transform("HardNegatives")((p, df) => Similarity.hardNegatives(
    p.parquet("queries_dir"), df, p.getString("id_column"),
    p.getString("vector_column"), p.getString("label_column"),
    p.getInt("k")))

  // per-label embedding-column QA (null/zero vectors, dims, norms)
  transform("EmbeddingNormStats")((p, df) => Similarity.embeddingNormStats(
    df, p.getString("vector_column"), p.getString("label_column")))
  // per-label embedding outliers (mislabel/garbage detector)
  transform("EmbeddingOutliers")((p, df) => Similarity.embeddingOutliers(df,
    p.getString("id_column"), p.getString("vector_column"),
    p.getString("label_column"), k = p.getInt("k", 5)))
  // k-NN label consistency (neighborhood-vote mislabel detector)
  transform("KnnLabelCheck")((p, df) => Similarity.knnLabelCheck(df,
    p.getString("id_column"), p.getString("vector_column"),
    p.getString("label_column"), p.getInt("k", 5)))
  // label-centroid cosine matrix over an embedding column
  transform("LabelCentroidSimilarity")((p, df) =>
    Similarity.labelCentroidSimilarity(df, p.getString("vector_column"),
      p.getString("label_column"), scale = p.getInt("scale", 1024)))
  // embedding-dimension covariance matrix (upper triangle)
  transform("EmbeddingCovariance")((p, df) => Similarity.embeddingCovariance(
    df, p.getString("vector_column"), p.getInt("scale", 1024)))
  // leading principal component of a saved covariance matrix
  transform("PrincipalComponent")((p, df) =>
    Similarity.principalComponent(df, p.getInt("max_iter", 100)))
  // JL random projection: dOut md5-plane dot products per vector
  transform("RandomProjection")((p, df) => Similarity.randomProjection(df,
    p.getString("id_column"), p.getString("vector_column"),
    p.getInt("d_out"), p.getInt("table", 0)))
  // k-means (Lloyd's) centroids (cid, ce, n) for AnnIvf-style retrieval
  transform("KMeansCentroids")((p, df) => Similarity.kmeansCentroids(df,
    p.getString("id_column"), p.getString("vector_column"), p.getInt("k"),
    p.getInt("max_iters", 10), p.getDouble("tol", 1e-3),
    p.getInt("scale", 1024).toLong,
    // init: warm-start centroids_dir, else init="farthest" (one seed per
    // cluster, q222), else the hash sample
    p.getStringOpt("centroids_dir").map(p.spark.read.parquet(_))
      .orElse(p.getStringOpt("init").collect {
        case "farthest" => Similarity.selectCentroidsFarthest(df,
          p.getString("id_column"), p.getString("vector_column"),
          p.getInt("k")).select(col("cid"), col("ce"))
      })))
  // IVF centroid artifact: (cid, ce) — the hash-sampled cell table
  transform("IvfCentroids")((p, df) => Similarity.selectCentroids(df,
    p.getString("id_column"), p.getString("vector_column"),
    p.getInt("centroids")))

  // PQ code artifact (id, j, code): the table PqSearch scans, not vectors
  transform("PqCodes") { (p, df) =>
    val (id, vec) = (p.getString("id_column"), p.getString("vector_column"))
    val (dim, m) = (p.getInt("dim"), p.getInt("m"))
    Similarity.pqEncode(df, id, vec, dim, m,
      Similarity.pqCodebooks(df, id, vec, dim, m, p.getInt("ks")))
  }
  // PQ codebook artifact (j, code, sub), written once per corpus release
  transform("PqCodebooks")((p, df) => Similarity.pqCodebooks(df,
    p.getString("id_column"), p.getString("vector_column"), p.getInt("dim"),
    p.getInt("m"), p.getInt("ks")))
  // PQ ADC top-k: compressed exhaustive scan for queries_dir
  transform("PqSearch")((p, df) => Similarity.pqTopK(
    p.parquet("queries_dir"), df, p.getString("id_column"),
    p.getString("vector_column"), p.getInt("k"), p.getInt("dim"),
    p.getInt("m"), p.getInt("ks")))
  // two-stage PQ retrieval: ADC shortlist + exact cosine re-rank
  transform("PqSearchRerank")((p, df) => Similarity.pqTopKRerank(
    p.parquet("queries_dir"), df, p.getString("id_column"),
    p.getString("vector_column"), p.getInt("k"), p.getInt("dim"),
    p.getInt("m"), p.getInt("ks"), p.getInt("shortlist")))
  // IVF-PQ: cells prune WHICH codes are scanned, PQ compresses WHAT
  transform("IvfPqSearch")((p, df) => Similarity.ivfPqTopK(
    p.parquet("queries_dir"), df, p.getString("id_column"),
    p.getString("vector_column"), p.getInt("k"), p.getInt("dim"),
    p.getInt("m"), p.getInt("ks"), p.getInt("centroids"),
    p.getInt("nprobe")))
  // IVF-PQ codes (id, cid, j, code) against the SAVED codebooks and
  // centroids, PARTITIONED BY cid so the prepared search prunes partitions
  // (re-assigning at query time cost more than the pruned scan saved)
  transform("IvfPqCodes", partitionBy = Seq("cid"))((p, df) =>
    Similarity.ivfPqEncodeWith(df, p.getString("id_column"),
      p.getString("vector_column"), p.getInt("dim"), p.getInt("m"),
      p.parquet("codebooks_dir"), p.parquet("centroids_dir")))
  // IVF-PQ over the prepared artifacts: probe scoring + pruned ADC scan
  transform("IvfPqSearchPrepared")((p, df) => Similarity.ivfPqTopKPrepared(
    p.parquet("queries_dir"), df, p.parquet("codebooks_dir"),
    p.parquet("centroids_dir"), p.getString("id_column"),
    p.getString("vector_column"), p.getInt("k"), p.getInt("dim"),
    p.getInt("m"), p.getInt("nprobe")))
}
