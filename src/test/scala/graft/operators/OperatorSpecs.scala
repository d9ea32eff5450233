package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup
    (4L, "completely different text about spark engines and shuffles here"),
    (5L, "one two"))  // shorter than shingle size
    .toDF("doc_id", "text")

  test("exactGroups finds duplicate clusters; exactDedup keeps min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    g.filter($"n_dups" === 2).select($"keep_id").as[Long]
      .collect() shouldBe Array(1L)
    Dedup.exactDedup(docs, "doc_id", "text").count() shouldBe 4
  }

  test("minhash LSH candidates catch exact and near dups") {
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
    val pairs = cand.as[(Long, Long)].collect().toSet
    pairs should contain((1L, 2L))
    // verify step computes true jaccard
    val ver = Dedup.jaccardVerify(cand, docs, "doc_id", "text")
      .filter($"jaccard" >= 0.5).select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSet
    ver should contain((1L, 2L))
  }

  test("dedupCorpus: exact dup and near dup drop, distinct and short docs survive") {
    val out = Dedup.dedupCorpus(docs, "doc_id", "text", threshold = 0.5)
      .select($"doc_id").as[Long].collect().sorted
    // 2 is an exact dup of 1 (keeper = min id); 3 is a near dup of 1
    // (higher id drops); 4 and 5 are unrelated
    out shouldBe Array(1L, 4L, 5L)
  }

  test("ngramJaccardPairs exact inverted-index path") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    out should contain((1L, 2L))
    out should contain((1L, 3L)) // 1-token change keeps jaccard >= 0.5
    out should not contain ((1L, 4L))
  }

  test("prefix-filtered path returns IDENTICAL pairs (lossless pruning)") {
    val plain = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
      prefixFilter = Some(false))
    val pref = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
      prefixFilter = Some(true))
    assertSameRows(pref, plain)
    // also at a higher threshold where prefixes shrink
    assertSameRows(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8,
        prefixFilter = Some(true)),
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8,
        prefixFilter = Some(false)))
  }

  test("auto path selection: df-fanout probe splits the regimes, " +
      "identical rows either way") {
    // benign regime: 30 distinct texts, each exactly twice — df = 2 on
    // every surviving shingle, fanout = 2 (and real pairs to compare)
    val benign = (1L to 60L)
      .map { i => val g = i % 30
        (i, s"t$g body u$g mid v$g w$g x$g tail y$g z$g")
      }
      .toDF("doc_id", "text")
    // heavy-tailed regime: one boilerplate sentence shared by every doc —
    // df ≈ corpus size on the shared shingles, fanout ≈ corpus size
    val boiler = (1L to 60L)
      .map(i => (i, s"standard header boilerplate sentence shared by all docs u$i"))
      .toDF("doc_id", "text")
    Dedup.shingleFanout(benign, "doc_id", "text", 3) should be < 8.0
    Dedup.shingleFanout(boiler, "doc_id", "text", 3) should be > 32.0
    // the probe picks a path; whatever it picks must match both forced
    // paths (lossless selection, not a semantics switch)
    for (docs <- Seq(benign, boiler)) {
      val auto = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
        autoPrefixFanout = 16.0)
      assertSameRows(auto,
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
          prefixFilter = Some(false)))
    }
  }

  test("decontaminate: docs sharing benchmark n-grams flagged and dropped, " +
      "benchmark side broadcast") {
    val corpus = Seq(
      (1L, "what is the capital of france the answer is paris obviously"),
      (2L, "the capital of france the answer is paris said the guide book"),
      (3L, "spark shuffles partition data across the cluster by key here"))
      .toDF("doc_id", "text")
    val bench = Seq("what is the capital of france the answer is paris")
      .toDF("qtext")
    val hits = Decontaminate.overlaps(corpus, "doc_id", "text",
      bench, "qtext", n = 5, minOverlap = 2)
    hits.select($"id").as[Long].collect().sorted shouldBe Array(1L, 2L)
    // the eval-set side must be the broadcast side (map-side join: the
    // corpus is never shuffled for candidate generation)
    hits.queryExecution.executedPlan.toString should
      include("BroadcastHashJoin")
    Decontaminate.decontaminate(corpus, "doc_id", "text", bench, "qtext",
        n = 5, minOverlap = 2)
      .select($"doc_id").as[Long].collect() shouldBe Array(3L)
  }

  test("noveltyScores: fraction of unseen distinct shingles per doc; a " +
      "sub-n doc scores on its whole-doc shingle") {
    val ref = Seq((10L, "a b c d")).toDF("doc_id", "text")
    val tgt = Seq(
      (1L, "a b c d"),   // both 3-shingles seen -> novelty 0
      (2L, "x y z w"),   // none seen -> 1
      (3L, "a b c x"),   // one of two seen -> 0.5
      (4L, "q"))         // short: whole-doc shingle, unseen -> 1
      .toDF("doc_id", "text")
    val out = Decontaminate.noveltyScores(tgt, "doc_id", "text",
        ref, "text", n = 3)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    out(1L) shouldBe ((1L, 2L, 2L, Some(0.0)))
    out(2L) shouldBe ((2L, 2L, 0L, Some(1.0)))
    out(3L) shouldBe ((3L, 2L, 1L, Some(0.5)))
    out(4L) shouldBe ((4L, 1L, 0L, Some(1.0)))
  }

  test("bloom-prefiltered decontamination is row-identical to the " +
      "broadcast path; might_contain is a narrow predicate in the plan") {
    val corpus = (1L to 60L).map { i =>
      val base = s"document number $i talks about topic ${i % 7} in detail"
      (i, if (i % 10 == 0)
        base + " what is the capital of france the answer is paris"
      else base)
    }.toDF("doc_id", "text")
    val bench = Seq("what is the capital of france the answer is paris",
      "name the largest planet the answer is jupiter of course")
      .toDF("qtext")
    val exact = Decontaminate.overlaps(corpus, "doc_id", "text",
      bench, "qtext", n = 5, minOverlap = 1)
    val bloomed = Decontaminate.overlapsBloom(corpus, "doc_id", "text",
      bench, "qtext", n = 5, minOverlap = 1)
    assertSameRows(bloomed, exact)
    // the corpus-side prefilter is the bloom probe, not a join: the
    // predicate shows up as might_contain in the physical plan
    bloomed.queryExecution.executedPlan.toString should
      include("might_contain")
    // a deliberately undersized, saturated bloom (expectedItems=1) fires
    // false positives — the exact semi-join must still remove every one
    val saturated = Decontaminate.overlapsBloom(corpus, "doc_id", "text",
      bench, "qtext", n = 5, minOverlap = 1, expectedShingles = 1L)
    assertSameRows(saturated, exact)
    // empty benchmark: no matches, no crash
    Decontaminate.overlapsBloom(corpus, "doc_id", "text",
      bench.limit(0), "qtext", n = 5).count() shouldBe 0L
  }

  test("dedupIncrement drops incoming exact and near dups of the existing " +
      "corpus; within-batch dups and fresh docs survive") {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today again"),
      (2L, "completely unrelated text about spark shuffle partitions here"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today again"), // exact dup of 1
      (11L, "the quick brown fox jumps over the lazy dog today also"),  // near dup of 1
      (12L, "fresh document with entirely new content nothing shared at all"),
      (13L, "fresh document with entirely new content nothing shared at all"))
      .toDF("doc_id", "text") // 13 is a WITHIN-BATCH dup of 12: out of scope
    val out = Dedup.dedupIncrement(existing, incoming, "doc_id", "text",
      threshold = 0.5)
    out.columns.toSeq shouldBe incoming.columns.toSeq
    out.select($"doc_id").as[Long].collect().sorted shouldBe Array(12L, 13L)
    // empty increment and empty existing are both no-ops, not crashes
    Dedup.dedupIncrement(existing, incoming.limit(0), "doc_id", "text")
      .count() shouldBe 0L
    Dedup.dedupIncrement(existing.limit(0), incoming, "doc_id", "text")
      .count() shouldBe 4L
    // the production path: PERSISTED artifacts replace the landed-corpus
    // digest/signature recompute — row-identical survivors
    val artDir = tmp("inc_artifacts") + "/a"
    Dedup.dedupArtifacts(existing, "doc_id", "text").write.parquet(artDir)
    val arts = spark.read.parquet(artDir)
    arts.columns.sorted.toSeq shouldBe Seq("digest", "id", "sig")
    val viaArts = Dedup.dedupIncrement(existing, incoming, "doc_id", "text",
      threshold = 0.5, artifacts = Some(arts))
    assertSameRows(viaArts, out)
    // candidate generation must stay a bucketed equi-join — never an
    // all-pairs product between the batch and the landed corpus
    val plan = viaArts.queryExecution.executedPlan.toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
    // the repeated-increment path: prepared (persisted digests + banded
    // signatures) — row-identical, landed banding not re-derived per call
    val prepared = Dedup.prepareIncrement(arts)
    try {
      prepared.digests.storageLevel.useMemory shouldBe true
      prepared.banded.storageLevel.useMemory shouldBe true
      val viaPrepared = Dedup.dedupIncrementPrepared(existing, incoming,
        "doc_id", "text", prepared, threshold = 0.5)
      assertSameRows(viaPrepared, out)
      viaPrepared.queryExecution.executedPlan.toString should
        include("InMemoryTableScan")
    } finally prepared.release()
  }

  test("connected components: chains collapse to min id, isolated pairs " +
      "stay separate, long paths converge") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L),            // chain -> component 1
      (7L, 8L),                      // isolated pair -> component 7
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L))
      .toDF("id_a", "id_b")          // 6-node path: needs >1 round
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    cc(1L) shouldBe 1L; cc(2L) shouldBe 1L; cc(3L) shouldBe 1L
    cc(7L) shouldBe 7L; cc(8L) shouldBe 7L
    (10L to 15L).foreach(i => cc(i) shouldBe 10L)
    cc.size shouldBe 11
  }

  test("keepPerComponent: one survivor per transitive cluster, even when " +
      "greedy pairwise would keep two") {
    val corpus = Seq(
      (1L, "a"), (2L, "b"), (3L, "c"), (9L, "unrelated"))
      .toDF("doc_id", "text")
    // 1-3 and 2-3 similar, 1-2 not: one component {1,2,3}. Greedy drops
    // only id_b's (3), keeping 1 AND 2 — per-cluster keeps just 1.
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val cd = Dedup.keepPerComponent(corpus, "doc_id", pairs)
    cd.frame.select($"doc_id").as[Long].collect().sorted shouldBe
      Array(1L, 9L)
    cd.release()
  }

  test("graphStats: triangle counted once, wedges exact, dup/self " +
      "edges collapse, clustering ratio") {
    // triangle {1,2,3} + pendant 4 (wedge at 3) + dup/reversed/self noise
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (1L, 1L),
      (3L, 4L)).toDF("id_a", "id_b")
    val r = Dedup.graphStats(pairs)
      .as[(Long, Long, Long, Long, Double)].collect().head
    // degs: 1->2, 2->2, 3->3, 4->1; wedges = 1+1+3+0 = 5
    r shouldBe ((4L, 4L, 5L, 1L, 0.6))
  }

  test("crossSplitPairs: flags only pairs straddling splits, keeps " +
      "both split labels") {
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val splits = Seq((1L, "train"), (2L, "test"), (3L, "val"),
      (4L, "val")).toDF("doc_id", "split")
    val out = Dedup.crossSplitPairs(pairs, splits, "doc_id")
      .as[(Long, Long, String, String)].collect()
    out shouldBe Array((1L, 2L, "train", "test"))
  }

  test("clusterStats: histogram of component sizes with removal counts, " +
      "releases its labels cache") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // components: {1,2,3} (size 3), {10,11} and {20,21} (size 2)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val cd = Dedup.clusterStats(pairs)
    cd.frame.select($"cluster_size", $"n_clusters", $"docs_removed")
      .as[(Long, Long, Long)].collect().sortBy(_._1) shouldBe
      Array((2L, 2L, 2L), (3L, 1L, 2L))
    cd.release()
    // id SETS, not counts: checkpoint blocks from EARLIER tests are
    // GC-cleaned asynchronously (counts can drop mid-test and mask one
    // new pinned cache); asserting no NEW ids accrete is immune to
    // concurrent cleanup while still catching every leak
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  test("keepBestPerComponent: the cluster survivor is the highest score " +
      "(tie to min id), singletons untouched") {
    val corpus = Seq(
      (1L, "a", 10), (2L, "b", 99), (3L, "c", 99), (9L, "unrelated", 1))
      .toDF("doc_id", "text", "score")
    // one component {1,2,3}: best score 99 held by 2 and 3 -> 2 wins tie
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val cd = Dedup.keepBestPerComponent(corpus, "doc_id", pairs, "score")
    cd.frame.select($"doc_id").as[Long].collect().sorted shouldBe
      Array(2L, 9L)
    cd.release()
    // min-id policy on the same graph keeps 1 — the policies differ
    val cd2 = Dedup.keepPerComponent(corpus, "doc_id", pairs)
    cd2.frame.select($"doc_id").as[Long].collect().sorted shouldBe
      Array(1L, 9L)
    cd2.release()
  }

  test("dedupCorpusByComponents matches dedupCorpus on simple clusters " +
      "and releases its labels cache") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cd = Dedup.dedupCorpusByComponents(docs, "doc_id", "text",
      threshold = 0.5)
    // 2 is an exact dup of 1; 3 a near dup of 1: cluster keeps 1 only
    cd.frame.select($"doc_id").as[Long].collect().sorted shouldBe
      Array(1L, 4L, 5L)
    cd.release()
    // id SETS, not counts: checkpoint blocks from EARLIER tests are
    // GC-cleaned asynchronously (counts can drop mid-test and mask one
    // new pinned cache); asserting no NEW ids accrete is immune to
    // concurrent cleanup while still catching every leak
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  test("connected components: string ids propagate labels transitively " +
      "(no silent one-round misconvergence on non-numeric ids)") {
    // diameter-3 path: label "b" must travel 3 hops to reach "e" — the
    // old decimal-sum convergence check nulled string ids out and
    // declared convergence after ONE round, leaving "e" mislabeled
    val pairs = Seq(("b", "c"), ("c", "d"), ("d", "e"), ("x", "y"))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
    val m = cc.as[(String, String)].collect().toMap
    Seq("b", "c", "d", "e").foreach(i => m(i) shouldBe "b")
    m("x") shouldBe "x"; m("y") shouldBe "x"
    m.size shouldBe 6
    cc.unpersist()
  }

  test("connected components: deep graphs converge without lineage blowup " +
      "(plan size flat per round) and diameter == maxIter still converges") {
    // 15 hops — without the per-round localCheckpoint the logical plan
    // doubles every round and the driver OOMs in plan analysis around
    // round 9; with it this completes in seconds. maxIter = 15 exactly:
    // the no-change verification round is granted beyond maxIter.
    val chain = (1L until 16L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponentsDistributed(chain, maxIter = 15)
    cc.as[(Long, Long)].collect().foreach(_._2 shouldBe 1L)
    cc.unpersist()
  }

  test("connected components: pointer-jumping converges a diameter-50 " +
      "chain in O(log d) rounds, not 50") {
    // plain one-hop propagation needs 50 change-rounds here; with the
    // label(label) shortcut (active from round 4) reach grows ~2x per
    // round, so maxIter=8 suffices — this spec fails if the shortcut
    // regresses to linear
    val chain = (1L until 51L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponentsDistributed(chain, maxIter = 8)
    val m = cc.as[(Long, Long)].collect().toMap
    m.size shouldBe 51
    m.values.foreach(_ shouldBe 1L)
    cc.unpersist()
  }

  test("connected components: intermediate storage is released each round; " +
      "result.unpersist() frees the rest") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cc = Dedup.connectedComponentsDistributed(
      Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b"))
    // result is cached and materialized; everything else already released
    cc.count() shouldBe 5
    cc.unpersist(blocking = true)
    // id SETS, not counts: checkpoint blocks from EARLIER tests are
    // GC-cleaned asynchronously (counts can drop mid-test and mask one
    // new pinned cache); asserting no NEW ids accrete is immune to
    // concurrent cleanup while still catching every leak
    (sc.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  test("connected components: a path longer than maxIter fails loudly " +
      "instead of returning partial labels") {
    // with pointer-jumping a round reaches ~3x further each time, so a
    // 9-edge path needs 3 change-rounds — maxIter = 1 (one change-round
    // plus the free verification round) cannot finish it
    val longPath = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsDistributed(longPath, maxIter = 1)
    }
    e.getMessage should include("did not converge")
    // opt-out path returns the partial labels (with a logged warning)
    val partial = Dedup.connectedComponentsDistributed(longPath,
      maxIter = 1, failOnNonConvergence = false)
    partial.count() shouldBe 10
    partial.unpersist()
    // and with enough rounds the same graph converges to one component
    val full = Dedup.connectedComponents(longPath, maxIter = 20)
    full.as[(Long, Long)].collect().foreach(_._2 shouldBe 1L)
    full.unpersist()
  }

  test("simhash: identical docs have hamming 0, near dups small hamming") {
    val sim = Dedup.simhashDF(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    sim(1L) shouldBe sim(2L)
    java.lang.Long.bitCount(sim(1L) ^ sim(3L)) should be < 20
    val cand = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 3)
    cand.filter($"id_a" === 1 && $"id_b" === 2).count() shouldBe 1
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f)),
    (5L, Array(1.0f, 0.0f, 0.0f)))  // identical to 1
    .toDF("vec_id", "embedding")

  test("embeddingOutliers: farthest-from-centroid ranks first, " +
      "integer-exact, pruned window, broadcast centroids") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), "a"),
      (2L, Array(1.0f, 0.1f), "a"),
      (3L, Array(0.0f, 9.0f), "a"),   // the obvious label-a outlier
      (4L, Array(5.0f, 5.0f), "b"),
      (5L, Array(5.0f, 5.0f), "b")).toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingOutliers(emb, "vec_id", "embedding",
      "label", k = 1)
    out.select($"label", $"vec_id").as[(String, Long)].collect()
      .sortBy(_._1) shouldBe Array(("a", 3L), ("b", 4L)) // b ties -> min id
    val plan = Similarity.embeddingOutliers(emb, "vec_id", "embedding",
      "label", k = 1).queryExecution.executedPlan.toString
    plan should include("WindowGroupLimit")
    plan should include("BroadcastHashJoin")
  }

  test("brute-force top-k ranks by cosine with deterministic ties") {
    val out = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 1), vecs, "vec_id", "embedding", k = 2)
    val rows = out.select($"neighbor_id", round($"cosine", 4))
      .as[(Long, Double)].collect()
    rows.map(_._1) shouldBe Array(5L, 2L) // identical first, then near
    rows.head._2 shouldBe 1.0
  }

  test("sign-LSH ANN finds identical vectors (same buckets by construction)") {
    val out = Similarity.annTopK(
      vecs.filter($"vec_id" === 1), vecs, "vec_id", "embedding", k = 2)
    out.select($"neighbor_id").as[Long].collect() should contain(5L)
  }

  test("embeddingCovariance: hand-computed population cells at scale 1 " +
      "(integer vectors quantize exactly); only broadcast joins") {
    val emb = Seq(
      (1L, Array(1.0f, 2.0f)),
      (2L, Array(3.0f, 6.0f)),
      (3L, Array(5.0f, 10.0f))) // y = 2x exactly
      .toDF("vec_id", "embedding")
    val out = Similarity.embeddingCovariance(emb, "embedding", scale = 1)
      .as[(Int, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // x = (1,3,5): var = (3·35 − 81)/9; cov(x,2x) = 2·var; var(2x) = 4·var
    out((0, 0)) shouldBe ((3L, 2.666667))
    out((0, 1)) shouldBe ((3L, 5.333333))
    out((1, 1)) shouldBe ((3L, 10.666667))
    out.size shouldBe 3 // upper triangle only
    // one corpus pass through the moments aggregate, then the dims²
    // cells are a bounded local relation: no join, no explode, no
    // per-row pair fan-out anywhere in the report plan
    val plan = Similarity.embeddingCovariance(emb, "embedding", 1)
      .queryExecution.executedPlan.toString
    plan should include ("LocalTableScan")
    plan should not include "Generate"
    plan should not include "Join"
  }

  test("embeddingCovariance equals the per-row pair-explode formulation " +
      "cell for cell on quantized random vectors") {
    val emb = spark.range(300).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)), d =>
        ((pmod(xxhash64($"id", d), lit(1000000L)).cast("double")
          / 1000000.0) - 0.5).cast("float")).as("embedding"))
    val scale = 1024
    // the explode form: every row emits its dims²/2 products, summed per
    // cell, then the same integer moments → population covariance
    val q = emb.select(transform($"embedding",
      x => floor(x.cast("double") * scale).cast("long")).as("q"))
    val lin = q.select(posexplode($"q").as(Seq("i", "x")))
      .groupBy($"i").agg(count(lit(1)).as("n"), sum($"x").as("s"))
    val dims = org.apache.spark.sql.functions.size($"q") // Matchers.size
    val cells = q.select(explode(flatten(transform($"q", (x, i) =>
        transform(slice($"q", i + 1, dims - i),
          (y, j0) => struct(i.as("i"), (i + j0).as("j"), (x * y).as("p"))))))
        .as("c"))
      .groupBy($"c.i".as("i"), $"c.j".as("j")).agg(sum($"c.p").as("sp"))
    val explodeForm = cells
      .join(lin.select($"i", $"s".as("si"), $"n"), Seq("i"))
      .join(lin.select($"i".as("j"), $"s".as("sj")), Seq("j"))
      .select($"i", $"j", $"n", (round(($"n".cast("double")
          * $"sp".cast("double") - $"si".cast("double") * $"sj".cast("double"))
        / ($"n".cast("double") * $"n".cast("double")
          * lit(scale.toDouble * scale)), 6) + lit(0.0)).as("cov"))
    val got = Similarity.embeddingCovariance(emb, "embedding", scale)
    got.count() shouldBe 36L // 8 dims: upper triangle incl. diagonal
    assertSameRows(got, explodeForm)
  }

  test("CovarianceMomentsAgg buffer: n, linear sums, upper triangle — " +
      "and merge across partitions is exact") {
    val emb = Seq(
      (1L, Array(1L, 2L)),
      (2L, Array(3L, 6L)),
      (3L, Array(5L, 10L)))
      .toDF("vec_id", "q").repartition(3) // force per-partition partials
    val m = emb.agg(graft.functions.CovarianceMomentsAgg
        .covarianceMoments($"q").as("m"))
      .as[Seq[Long]].head()
    // layout: [n, S0, S1, S00, S01, S11]
    m shouldBe Seq(3L, 9L, 18L, 35L, 70L, 140L)
  }

  test("principalComponent: rank-1 covariance recovers the direction, " +
      "eigenvalue = trace, explained = 1; sign normalized positive") {
    val emb = Seq(
      (1L, Array(1.0f, 2.0f)),
      (2L, Array(3.0f, 6.0f)),
      (3L, Array(5.0f, 10.0f)))
      .toDF("vec_id", "embedding")
    val cov = Similarity.embeddingCovariance(emb, "embedding", scale = 1)
    val r = Similarity.principalComponent(cov)
      .as[(Int, Double, Option[Double], Seq[Double])].head()
    r._1 shouldBe 2
    r._2 shouldBe (2.666667 + 10.666667) +- 1e-4 // rank-1: λ = trace
    r._3.get shouldBe 1.0 +- 1e-6 // cov cells carry round(…,6) noise
    // direction ∝ (1, 2)/√5, largest-|·| entry positive
    r._4(0) shouldBe (1.0 / math.sqrt(5)) +- 1e-4
    r._4(1) shouldBe (2.0 / math.sqrt(5)) +- 1e-4
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("langId picks the dominant stopword language") {
    val df = Seq(
      (1, "the cat is in the house and it is happy"),
      (2, "der hund ist von dem haus und er ist gut"),
      (3, "xyzzy plugh")).toDF("id", "text")
    df.select($"id", TextAnalysis.langId($"text")).as[(Int, String)]
      .collect().sortBy(_._1) shouldBe Array((1, "en"), (2, "de"), (3, "und"))
  }

  test("tfidfTopTerms: rational idf ranking, tie-break on term, k cap, " +
      "map-side pruned window") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry cherry date")).toDF("id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "id", "text", k = 2)
    val got = out.select($"id", $"term", $"tf", $"tfidf", $"rank")
      .as[(Long, String, Long, Double, Int)].collect().sortBy(r => (r._1, r._5))
    // N=3; df: apple 1, banana 2, cherry 2, date 1
    got shouldBe Array(
      (1L, "apple", 2L, 6.0, 1), (1L, "banana", 1L, 1.5, 2),
      (2L, "banana", 1L, 1.5, 1), (2L, "cherry", 1L, 1.5, 2), // tie: term asc
      (3L, "cherry", 2L, 3.0, 1), (3L, "date", 1L, 3.0, 2))   // tie: term asc
    out.queryExecution.executedPlan.toString should
      include("WindowGroupLimit")
  }

  test("vocabCoverage: boundary inside a frequency class is exact, " +
      "V beyond the vocab clamps to 1.0") {
    // counts: a=4, b=2, c=2, d=1, e=1 -> total 10
    val docs = Seq((1L, "a a a a b b"), (2L, "c c d e")).toDF("id", "text")
    val out = TextAnalysis.vocabCoverage(docs, "text", Seq(1, 2, 4, 99))
      .select($"vocab_size", $"covered", $"coverage")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    out shouldBe Array(
      (1, 4L, 0.4),   // top-1: a
      (2, 6L, 0.6),   // V=2 splits the count-2 class {b,c}: 4 + 1*2
      (4, 9L, 0.9),   // V=4 splits the count-1 class {d,e}: 8 + 1*1
      (99, 10L, 1.0)) // beyond the vocab: everything
  }

  test("collocations: PMI ranks the exclusive pair above the promiscuous " +
      "one, minCount floors hapax pairs, k caps") {
    // "new york" always adjacent and exclusive; "the cat"/"the dog" share
    // the promiscuous "the"; "rare gem" occurs only twice (under minCount)
    val docs = Seq(
      (1L, "new york new york new york"),
      (2L, "the cat the dog the cat the dog the cat"),
      (3L, "rare gem rare gem")).toDF("id", "text")
    val out = TextAnalysis.collocations(docs, "text", minCount = 3, k = 2)
      .select($"w1", $"w2", $"pair_count")
      .as[(String, String, Long)].collect()
    out should have length 2
    out.head._1 shouldBe "new"
    out.head._2 shouldBe "york"
    // hapax-floored pair never surfaces
    out.map(p => (p._1, p._2)) should not contain (("rare", "gem"))
    // bigram construction is map-side: no shuffle before the count agg
    val plan = TextAnalysis.collocations(docs, "text")
      .queryExecution.executedPlan.toString
    plan should not include "SortMergeJoin" // vocab joins stay broadcast
  }

  test("token counts: whitespace vs BPE-ish") {
    val df = Seq("hello world42 a.b").toDF("text")
    df.select(TextAnalysis.tokenCount($"text"),
        TextAnalysis.bpeishTokenCount($"text"))
      .collect().head.toSeq shouldBe Seq(3, 6) // hello|world|42|a|.|b
  }

  test("fingerprint is token-order insensitive") {
    val df = Seq(("a b c", "c b a"), ("a b c", "a b d")).toDF("t1", "t2")
    val r = df.select(
      (TextAnalysis.fingerprint($"t1") === TextAnalysis.fingerprint($"t2"))
        .as("eq")).as[Boolean].collect()
    r shouldBe Array(true, false)
  }

  test("repetition signals: dup lines, dup 2-grams, top-2-gram mass") {
    val df = Seq(
      // 4 lines, one exact dup pair -> dup_line_fraction 0.25;
      // tokens: "spam spam spam spam" -> 3 2-grams all "spam spam"
      (1L, "spam spam spam spam\nok line\nok line\nlast"),
      (2L, "all tokens differ here now"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "doc_id", "text")
      .select($"doc_id", $"n_lines", $"dup_line_fraction", $"n_2grams",
        $"dup_2gram_fraction", $"top_2gram_fraction")
      .as[(Long, Int, Double, Long, Double, Double)]
      .collect().sortBy(_._1)
    val d1 = out(0)
    d1._2 shouldBe 4
    d1._3 shouldBe 0.25
    // tokens: [spam spam spam spam ok line ok line last] -> 8 2-grams:
    // (spam spam)x3, (spam ok), (ok line)x2, (line ok), (line last);
    // distinct 5 -> dup 1-5/8 = 0.375; top (spam spam) 3/8 = 0.375
    d1._4 shouldBe 8L
    d1._5 shouldBe 0.375
    d1._6 shouldBe 0.375
    val d2 = out(1)
    d2._2 shouldBe 1
    d2._3 shouldBe 0.0
    d2._5 shouldBe 0.0
  }

  test("unigram logprob: common text scores higher than gibberish, " +
      "OOV floors below any in-vocab token") {
    val docs = Seq(
      (1L, "the cat sat on the mat the cat sat again"),
      (2L, "the cat sat on the mat once more today"),
      (3L, "zxqv wvuk qqpl mmnx zzyy xxww ccvv bbnn"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProbScore(docs, "doc_id", "text",
        vocabSize = 12)
      .as[(Long, Double)].collect().toMap
    out(1L) should be > out(3L)
    out(2L) should be > out(3L)
    // deterministic across evaluations
    TextAnalysis.unigramLogProbScore(docs, "doc_id", "text", 12)
      .as[(Long, Double)].collect().toMap shouldBe out
  }

  test("frozen vocabulary: scoring a second corpus against a SAVED vocab " +
      "is byte-identical to scoring against the in-memory one") {
    val reference = Seq(
      (1L, "the cat sat on the mat the cat sat again"),
      (2L, "the cat sat on the mat once more today"))
      .toDF("doc_id", "text")
    val vocab = TextAnalysis.unigramVocabulary(reference, "text",
      vocabSize = 8)
    val dir = tmp("uq_vocab") + "/v"
    vocab.write.parquet(dir)
    val reloaded = spark.read.parquet(dir)
    // a NEW corpus: half in-vocab, half OOV (exercises the frozen floor)
    val fresh = Seq(
      (10L, "the cat sat happily"),
      (11L, "zxqv wvuk qqpl mmnx"))
      .toDF("doc_id", "text")
    val inMem = TextAnalysis.scoreWithVocabulary(fresh, "doc_id", "text",
      vocab).as[(Long, Double)].collect().toMap
    val frozen = TextAnalysis.scoreWithVocabulary(fresh, "doc_id", "text",
      reloaded).as[(Long, Double)].collect().toMap
    frozen shouldBe inMem
    // the frozen floor comes from the REFERENCE corpus total, so a fully
    // OOV doc scores exactly the saved floor
    val floor = reloaded.select($"oov_floor").head().getDouble(0)
    frozen(11L) shouldBe BigDecimal(floor)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // and inline convenience path == build-then-score composition
    TextAnalysis.unigramLogProbScore(reference, "doc_id", "text", 8)
      .as[(Long, Double)].collect().toMap shouldBe
      TextAnalysis.scoreWithVocabulary(reference, "doc_id", "text", vocab)
        .as[(Long, Double)].collect().toMap
  }

  test("bigramLogProbScore: token order matters — the same bag of words " +
      "shuffled scores lower; short docs are absent; model broadcasts") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the cat sat again and again"),
      (2L, "the cat sat on the mat and sat on the mat again"),
      (3L, "again sat the and mat cat on the sat the cat and"), // shuffled 1
      (4L, "onlyone"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProbScore(docs, "doc_id", "text",
        modelSize = 500, historySize = 500, addK = 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    out.keySet shouldBe Set(1L, 2L, 3L) // doc 4 has no bigrams
    out(1L)._1 shouldBe 12L             // 13 tokens -> 12 bigrams
    // natural order hits frequent bigrams; the shuffled twin of doc 1
    // shares its unigram distribution but not its transitions
    out(1L)._2 should be > out(3L)._2
    out(2L)._2 should be > out(3L)._2
    // deterministic across evaluations
    TextAnalysis.bigramLogProbScore(docs, "doc_id", "text", 500, 500, 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap shouldBe out
    // truncating the model only LOWERS scores (floor fallback), and the
    // truncated-history path stays a proper probability (ln p < 0)
    val trunc = TextAnalysis.bigramLogProbScore(docs, "doc_id", "text",
        modelSize = 3, historySize = 2, addK = 0.5)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    trunc(1L) should be <= out(1L)._2
    all(trunc.values) should be < 0.0
    // both model tables broadcast; the corpus is never sort-merge-joined
    val plan = TextAnalysis.bigramLogProbScore(docs, "doc_id", "text",
        500, 500, 0.5).queryExecution.executedPlan.toString
    plan should include ("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("compressionSignals: repetitive text deflates far below prose, " +
      "noise barely compresses; values match an in-JVM Deflater; " +
      "codegen'd map with no shuffle") {
    val spam = "buy now " * 200
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders into a quiet meadow where nothing repeats exactly " +
      "because every clause keeps introducing new words and ideas"
    // near-uniform 94-symbol stream (LCG): Huffman can't find skew and
    // LZ77 can't find repeats, so deflate barely dents it
    val noise = {
      var x = 88172645463325252L
      (1 to 3000).map { _ =>
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        (33 + java.lang.Long.remainderUnsigned(x, 94L)).toChar
      }.mkString
    }
    val docs = Seq((1L, spam), (2L, prose), (3L, noise), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.compressionSignals(docs, "doc_id", "text")
      .as[(Long, Int, Int, Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // exactness: the expression IS Deflater(default, nowrap)
    def ref(s: String) = graft.functions.DeflatedSizeExpr
      .compute(s.getBytes("UTF-8"))
    out(1L)._2 shouldBe ref(spam)
    out(2L)._2 shouldBe ref(prose)
    out(3L)._2 shouldBe ref(noise)
    // band ordering: spam << prose < noise
    out(1L)._3.get should be < 0.05
    out(2L)._3.get should be > (out(1L)._3.get * 5)
    out(3L)._3.get should be > out(2L)._3.get
    out(3L)._3.get should be > 0.5
    // empty text: 0 raw bytes (deflate still emits its 2-byte empty
    // final block), null ratio — never NaN/divide-by-zero
    out(4L) shouldBe ((0, ref(""), None))
    // pure per-row map: no exchange in the plan, and the expression
    // compiles into the whole-stage-codegen span (no UDF fallback) —
    // parquet-backed so ConvertToLocalRelation can't pre-evaluate it
    val pq = tmp("cs_docs") + "/t"
    docs.write.parquet(pq)
    val qe = TextAnalysis.compressionSignals(spark.read.parquet(pq),
      "doc_id", "text").queryExecution.executedPlan.toString
    qe should not include "Exchange"
    qe should include ("*(1) Project") // the codegen'd span marker
    // SQL surface parity
    graft.functions.GraftFunctions.register(spark)
    docs.createOrReplaceTempView("cs_docs")
    spark.sql("SELECT deflated_size(text) AS d FROM cs_docs WHERE doc_id = 1")
      .as[Int].head() shouldBe ref(spam)
  }

  test("blocklistReport: hand-computed doc/occurrence counts, zero-hit " +
      "terms keep a (0,0) row; filter face drops exactly the hit docs") {
    val docs = Seq(
      (1L, "bad word bad again"),   // bad x2
      (2L, "all clean here"),
      (3L, "one bad apple"),
      (4L, "worse things entirely")) // worse x1
      .toDF("doc_id", "text")
    val rep = TextAnalysis.blocklistReport(docs, "doc_id", "text",
        Seq("bad", "worse", "ghost"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    rep shouldBe Map("bad" -> ((2L, 3L)), "worse" -> ((1L, 1L)),
      "ghost" -> ((0L, 0L)))
    TextAnalysis.blocklistFilter(docs, "text", Seq("bad", "worse"))
      .select($"doc_id").as[Long].collect().toSet shouldBe Set(2L)
    // the filter is a narrow predicate: no exchange in its plan
    val plan = TextAnalysis.blocklistFilter(docs, "text", Seq("bad"))
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.blocklistReport(docs, "doc_id", "text", Seq("a", "a"))
  }

  test("urlDomains: host extraction, per-domain doc dedup vs url " +
      "occurrence counts, urlless corpus yields empty") {
    val docs = Seq(
      (1L, "see https://a.example/x and https://a.example/y plus " +
        "http://b.example/z"),
      (2L, "only https://a.example/again here"),
      (3L, "no links at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.urlDomains(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    // doc 1 mentions a.example twice -> n_docs 2, n_urls 3
    out shouldBe Map("a.example" -> ((2L, 3L)), "b.example" -> ((1L, 1L)))
    TextAnalysis.urlDomains(docs.filter($"doc_id" === 3), "doc_id", "text")
      .count() shouldBe 0L
  }

  test("frozen bigram model: scoring a NEW corpus against a SAVED model " +
      "is byte-identical to the in-memory one; OOV histories hit the " +
      "smoothed floor") {
    val reference = Seq(
      (1L, "the cat sat on the mat the cat sat again"),
      (2L, "the cat sat on the mat once more today"))
      .toDF("doc_id", "text")
    val model = TextAnalysis.bigramModel(reference, "text",
      modelSize = 16, historySize = 8)
    val dir = tmp("bq_model") + "/m"
    model.write.parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val fresh = Seq(
      (10L, "the cat sat quietly"),
      (11L, "zxqv wvuk qqpl mmnx")) // fully OOV transitions
      .toDF("doc_id", "text")
    val inMem = TextAnalysis.scoreWithBigramModel(fresh, "doc_id",
      "text", model).as[(Long, Long, Double)].collect().toSet
    val frozen = TextAnalysis.scoreWithBigramModel(fresh, "doc_id",
      "text", reloaded).as[(Long, Long, Double)].collect().toSet
    frozen shouldBe inMem
    // the fully-OOV doc's every bigram is the same floor ln(k/(k*V)):
    // 3 bigrams, V from the reference corpus
    val v = reloaded.select($"v").head().getDouble(0)
    val floor = math.rint(math.log(0.5 / (0.5 * v)) * 1e6) / 1e6
    frozen.find(_._1 == 11L).get._3 shouldBe floor
    // inline convenience == build-then-score composition
    TextAnalysis.bigramLogProbScore(reference, "doc_id", "text", 16, 8)
      .as[(Long, Long, Double)].collect().toSet shouldBe
      TextAnalysis.scoreWithBigramModel(reference, "doc_id", "text",
        model).as[(Long, Long, Double)].collect().toSet
  }

  test("minKProbScore: lowest-k% mean bounds the full mean, kFrac=1 " +
      "degenerates to it, and in-corpus text outscores OOV text") {
    val reference = Seq(
      (1L, "the cat sat on the mat the cat sat again"),
      (2L, "the cat sat on the mat once more today"))
      .toDF("doc_id", "text")
    val model = TextAnalysis.bigramModel(reference, "text",
      modelSize = 16, historySize = 8)
    val docs = Seq(
      (10L, "the cat sat on the mat"), // memorized transitions
      (11L, "the cat zxqv wvuk qqpl")) // tail is OOV
      .toDF("doc_id", "text")
    val mink = TextAnalysis.minKProbScore(docs, "doc_id", "text", model,
      kFrac = 0.5).as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    val full = TextAnalysis.scoreWithBigramModel(docs, "doc_id", "text",
      model).as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    // the mean of the LOWEST half can't exceed the overall mean
    mink.foreach { case (id, s) => s should be <= full(id) + 1e-9 }
    // membership signal: the memorized doc's worst transitions are
    // still likely; the OOV doc's sit on the smoothed floor
    mink(10L) should be > mink(11L)
    // kFrac = 1 is exactly the full mean
    val all = TextAnalysis.minKProbScore(docs, "doc_id", "text", model,
      kFrac = 1.0).as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    all shouldBe full
  }

  test("readabilityScores: hand-computed Flesch from the documented " +
      "counts; syllable floor at word count; empty text nulls") {
    val docs = Seq(
      (1L, "The cat sat. It sat again! Did it?"), // 8 words, 3 sentences
      (2L, "xyz qrst"),      // one vowel group (the y): floor lifts to 2
      (3L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.readabilityScores(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // doc 1: vowel groups: e,a,a,i,a,a,ai,i,i = the(1) cat(1) sat(1)
    // it(1) sat(1) again(2: a,ai) did(1) it(1) = 9
    val f1 = math.rint((206.835 - 1.015 * (8.0 / 3.0)
      - 84.6 * (9.0 / 8.0)) * 1e6) / 1e6
    out(1L) shouldBe ((8L, 3L, 9L, Some(f1)))
    val f2 = math.rint((206.835 - 1.015 * 2.0 - 84.6 * 1.0) * 1e6) / 1e6
    out(2L) shouldBe ((2L, 1L, 2L, Some(f2)))
    out(3L) shouldBe ((0L, 1L, 0L, None))
  }

  test("quality features compute deterministic ratios") {
    val out = TextAnalysis.qualityFeatures(
      Seq("the quick brown fox, it jumps; over the lazy dog today now!")
        .toDF("text"), "text")
    val row = out.select($"n_tokens", $"punct_ratio", $"quality_score")
      .collect().head
    row.getInt(0) shouldBe 12
    row.getDouble(1) should be > 0.0
    row.getDouble(2) should be >= 0.6
  }
}

class PrivacySpec extends SparkSpec {
  import spark.implicits._

  test("dpCounts: deterministic seeded Laplace, clamp-bounded noise, " +
      "per-group independent draws, true counts never in the output") {
    val df = (Seq.fill(100)("en") ++ Seq.fill(50)("de") ++ Seq.fill(7)("fr"))
      .toDF("lang")
    val out = Privacy.dpCounts(df, Seq("lang"), epsilon = 1.0)
    out.columns.toSeq shouldBe Seq("lang", "dp_count", "dp_released")
    val m = out.as[(String, Double, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // |noise| <= ln(1e12)/eps ~ 27.63 by the documented clamp
    math.abs(m("en")._1 - 100.0) should be <= 27.7
    math.abs(m("de")._1 - 50.0) should be <= 27.7
    math.abs(m("fr")._1 - 7.0) should be <= 27.7
    all(m.values.map(_._2)) should be >= 0L
    // reproducible run-to-run (the verification property)...
    Privacy.dpCounts(df, Seq("lang"), 1.0)
      .as[(String, Double, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap shouldBe m
    // ...and per-group draws differ (not one shared noise value)
    Set(m("en")._1 - 100.0, m("de")._1 - 50.0, m("fr")._1 - 7.0)
      .size shouldBe 3
    // a new seed is a NEW release (different noise)
    val reseeded = Privacy.dpCounts(df, Seq("lang"), 1.0, seed = "dp2")
      .as[(String, Double, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    reseeded("en") should not be m("en")._1
    // tighter epsilon -> larger scale on the same underlying uniform
    val loose = Privacy.dpCounts(df, Seq("lang"), 0.1)
      .as[(String, Double, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    math.abs(loose("en") - 100.0) shouldBe
      (10.0 * math.abs(m("en")._1 - 100.0)) +- 1e-4
  }

  test("dpSum: per-row clipping bounds sensitivity, noise scale clip/ε, " +
      "independent draw from the count release") {
    val df = Seq(("a", Some(5.0)), ("a", Some(500.0)), ("a", Some(-500.0)),
      ("b", Some(3.0)), ("b", None)).toDF("g", "v")
    val out = Privacy.dpSum(df, Seq("g"), "v", clip = 10.0, epsilon = 1.0)
      .as[(String, Double)].collect().toMap
    // a: 5 + 10 - 10 = 5 clipped; |noise| <= 10*ln(1e12) ~ 276.3
    math.abs(out("a") - 5.0) should be <= 276.4
    math.abs(out("b") - 3.0) should be <= 276.4
    // reproducible
    Privacy.dpSum(df, Seq("g"), "v", 10.0, 1.0)
      .as[(String, Double)].collect().toMap shouldBe out
    // the sum draw differs from the count draw on the same seed/group
    val counts = Privacy.dpCounts(df, Seq("g"), 1.0)
      .as[(String, Double, Long)].collect().map(r => r._1 -> r._2).toMap
    // noise_count(a) = dp_count - 3 rows; noise_sum(a)/10 would equal
    // it if the draws were shared — they must not be
    (out("a") - 5.0) / 10.0 should not be (counts("a") - 3.0)
  }
}

class RedactSpec extends SparkSpec {
  import spark.implicits._

  test("redacts emails, ips, and dashed phones; counts on original text") {
    val df = Seq(
      (1L, "mail a.b+c@sub.example.org or x@y.io, host 192.168.1.1, tel 555-123-4567"),
      (2L, "no pii in this one at all"))
      .toDF("doc_id", "text")
    val out = Redact.withRedactions(df, "text")
      .select($"doc_id", $"red_text", $"n_email", $"n_ipv4", $"n_phone")
      .as[(Long, String, Int, Int, Int)].collect().sortBy(_._1)
    out(0)._2 shouldBe
      "mail <EMAIL> or <EMAIL>, host <IP>, tel <PHONE>"
    (out(0)._3, out(0)._4, out(0)._5) shouldBe ((2, 1, 1))
    out(1)._2 shouldBe "no pii in this one at all"
    (out(1)._3, out(1)._4, out(1)._5) shouldBe ((0, 0, 0))
  }

  test("piiStats: per-group doc and match counts separate (one doc " +
      "with two emails is one doc, two hits)") {
    val df = Seq(
      ("a", "x@y.io and z@w.io here"),          // 1 doc, 2 email hits
      ("a", "call 555-123-4567"),
      ("a", "clean"),
      ("b", "host 10.0.0.1 and 10.0.0.2"))
      .toDF("src", "text")
    val out = Redact.piiStats(df, "src", "text")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    out("a") shouldBe (("a", 3L, 1L, 2L, 0L, 0L, 1L, 1L))
    out("b") shouldBe (("b", 1L, 0L, 0L, 1L, 2L, 0L, 0L))
  }
}

class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  test("int8 quantization: exact codes, zero-vector guard, error bound") {
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Quantize.withQuantized(df, "embedding")
      .select($"vec_id", $"scale", $"q")
      .as[(Long, Double, Array[Int])].collect().sortBy(_._1)
    out(0)._2 shouldBe (1.0 / 127.0)
    out(0)._3 shouldBe Array(127, -63, 32, 0)
    out(1)._2 shouldBe 0.0
    out(1)._3 shouldBe Array(0, 0, 0, 0)
    // reconstruction error bounded by scale/2 on every component
    val rec = Quantize.withQuantized(df, "embedding")
      .select($"embedding", $"scale",
        Quantize.dequantized($"q", $"scale").as("deq"))
      .as[(Array[Float], Double, Array[Double])].collect()
    rec.foreach { case (orig, scale, deq) =>
      orig.zip(deq).foreach { case (o, d) =>
        math.abs(o.toDouble - d) should be <= (scale / 2 + 1e-12)
      }
    }
  }

  test("quantized search keeps top-k recall on clustered data") {
    val rnd = new java.util.Random(7)
    def gauss(d: Int) = Array.fill(d)(rnd.nextGaussian().toFloat)
    val centers = Array.fill(8)(gauss(32))
    val corpus = (0L until 240L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => x + 0.1f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 20 === 0)
    val exact = Similarity.bruteForceTopK(queries, corpus, "vec_id",
      "embedding", k = 5).select("query_id", "neighbor_id")
    // search over int8-dequantized vectors (float cast: bruteForceTopK's
    // cosine kernel takes float arrays)
    val deqCorpus = Quantize.withQuantized(corpus, "embedding")
      .select($"vec_id",
        transform(Quantize.dequantized($"q", $"scale"),
          _.cast("float")).as("embedding"))
    val deqQueries = deqCorpus.filter($"vec_id" % 20 === 0)
    val approx = Similarity.bruteForceTopK(deqQueries, deqCorpus, "vec_id",
      "embedding", k = 5).select("query_id", "neighbor_id")
    val recall = approx.intersect(exact).count().toDouble / exact.count()
    info(s"int8 recall@5: $recall")
    recall should be >= 0.9
  }
}

class ShufflingSpec extends SparkSpec {
  import spark.implicits._

  test("deterministic shuffle: stable assignment, dense per-shard " +
      "positions, uniform-ish shards") {
    val df = spark.range(1, 2001).toDF("id")
    val out = Shuffling.shuffleIntoShards(df, "id", numShards = 8)
      .select($"id", $"shard", $"pos_in_shard")
      .as[(Long, Int, Int)].collect()
    out.length shouldBe 2000
    // same assignment on re-evaluation (pure function of the id)
    Shuffling.shuffleIntoShards(df, "id", 8)
      .select($"id", $"shard", $"pos_in_shard")
      .as[(Long, Int, Int)].collect().sortBy(_._1) shouldBe out.sortBy(_._1)
    // positions dense 1..size within every shard
    out.groupBy(_._2).values.foreach { s =>
      s.map(_._3).sorted shouldBe (1 to s.length).toArray
    }
    // no empty shard and no degenerate skew at n=2000, k=8
    val sizes = out.groupBy(_._2).view.mapValues(_.length).toMap
    sizes.size shouldBe 8
    all(sizes.values) should be > 150
  }
}

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  test("new session after gap, cumulative ids per key") {
    val e = Seq(
      (1L, 1L, 0L), (1L, 2L, 60L), (1L, 3L, 4000L), // gap > 30min at id 3
      (2L, 4L, 0L))
      .toDF("user_id", "event_id", "tsec")
    val out = Sessionize(e, "user_id", col("tsec") * 1000, "event_id",
        gapMillis = 1800000L)
      .select($"user_id", $"event_id", $"session_id")
      .as[(Long, Long, Long)].collect().sortBy(_._2)
    out shouldBe Array((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L), (2L, 4L, 1L))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("asMedia wraps payloads with typed metadata; stub decode is deterministic") {
    val df = Seq((1L, "payload-bytes")).toDF("id", "data")
    val media = Multimodal.asMedia(df, "id", "data", "image/fake")
    media.columns.toSet shouldBe
      Set("id", "payload", "media_type", "n_bytes", "content_sha256")
    media.select($"n_bytes").as[Int].collect().head shouldBe 13
    val dec = Multimodal.fakeDecode(media)
    val d1 = dec.select($"fake_width", $"fake_height").collect().head
    val d2 = Multimodal.fakeDecode(media)
      .select($"fake_width", $"fake_height").collect().head
    d1 shouldBe d2
    val frames = Multimodal.sampleFrames(dec, "id", nFrames = 4)
    frames.count() shouldBe 4
    frames.select(max($"frame_offset")).as[Long].collect().head should be < 13L
  }

  test("dedupSampledFrames keeps each (payload, frame) once under its " +
      "min-id owner; payload bytes stay out of every exchange") {
    val df = Seq(
      (1L, "blob-A"), (2L, "blob-B"), (3L, "blob-A"), (4L, "blob-A"))
      .toDF("id", "data")
    val media = Multimodal.asMedia(df, "id", "data", "video/fake")
    val out = Multimodal.dedupSampledFrames(media, "id", nFrames = 3)
    // blob-A's 3 frames survive once (owner 1), blob-B's once (owner 2)
    out.count() shouldBe 6L
    out.select($"id").distinct().as[Long].collect().sorted shouldBe
      Array(1L, 2L)
    // frames of one payload are identical across its duplicate holders,
    // so the survivor set equals sampling only the representatives
    val reps = Multimodal.sampleFrames(
      Multimodal.asMedia(df.filter($"id".isin(1L, 2L)), "id", "data",
        "video/fake"), "id", 3)
      .select($"id", $"frame_no", $"frame_offset", $"n_bytes")
    assertSameRows(out, reps)
    val exchanges = out.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Exchange")).toSeq
    exchanges should not be empty
    all(exchanges) should not include "payload"
  }

  test("dedupExactMedia keeps the min-id survivor per distinct payload " +
      "and never shuffles the blobs") {
    val df = Seq(
      (1L, "blob-A"), (2L, "blob-B"), (3L, "blob-A"),  // 3 dups 1
      (4L, "blob-C"), (5L, "blob-B"), (6L, "blob-A"))  // 5 dups 2, 6 dups 1
      .toDF("id", "data")
    val media = Multimodal.asMedia(df, "id", "data", "image/fake")
    val out = Multimodal.dedupExactMedia(media, "id", "payload")
    out.columns.toSeq shouldBe media.columns.toSeq
    out.select($"id").as[Long].collect().sorted shouldBe Array(1L, 2L, 4L)
    // the election aggregate exchanges (digest, id) only — the payload
    // column must not appear in any shuffle's partitioning input
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    exchanges should not be empty
    all(exchanges) should not include "payload"
  }
}

class ChunkingSpec extends SparkSpec {
  import spark.implicits._

  test("chunkText: stride-stepped windows cover every token, trailing " +
      "windows shorten, narrow plan with zero exchanges") {
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, "x y")).toDF("id", "t")
    val out = Packing.chunkText(docs, "id", "t", chunkTokens = 4, stride = 3)
    val rows = out.as[(Long, Int, String, Int)].collect().sortBy(r => (r._1, r._2))
    rows.filter(_._1 == 1L).map(r => (r._2, r._3, r._4)) shouldBe Array(
      (0, "a b c d", 4), (1, "d e f g", 4), (2, "g h i j", 4), (3, "j", 1))
    rows.filter(_._1 == 2L).map(r => (r._2, r._3, r._4)) shouldBe Array(
      (0, "x y", 2))
    // chunking is a per-row expansion: no shuffle may appear in the plan
    out.queryExecution.executedPlan.toString should not include "Exchange"
  }

  test("chunkText: stride == chunkTokens partitions exactly (token " +
      "multiset preserved, no overlap)") {
    val docs = Seq((7L, "p q r s t u v")).toDF("id", "t")
    val out = Packing.chunkText(docs, "id", "t", 3, 3)
      .select($"chunk_text").as[String].collect()
    out.flatMap(_.split(" ")).sorted shouldBe
      Array("p", "q", "r", "s", "t", "u", "v")
  }

  test("chunkText rejects non-positive sizes") {
    val docs = Seq((1L, "a")).toDF("id", "t")
    an[IllegalArgumentException] should be thrownBy
      Packing.chunkText(docs, "id", "t", 0, 3)
    an[IllegalArgumentException] should be thrownBy
      Packing.chunkText(docs, "id", "t", 3, 0)
  }

  test("chunkNovelty: a doc recycling an earlier doc's prefix has its " +
      "full chunks seen and its short tail novel") {
    val src = "t1 t2 t3 t4 t5 t6 t7 t8"             // 8 tokens
    val docs = Seq(
      (1L, src),                                     // chunks: [t1..t4], [t5..t8]
      (2L, "t1 t2 t3 t4 t5 t6"),                     // [t1..t4] seen, [t5 t6] novel
      (3L, src))                                     // both chunks seen
      .toDF("id", "t")
    val out = Dedup.chunkNovelty(docs, "id", "t", chunkTokens = 4)
    val m = out.as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    m(1L) shouldBe ((2L, 0L, 1.0))
    m(2L) shouldBe ((2L, 1L, 0.5))
    m(3L) shouldBe ((2L, 2L, 0.0))
    // election on digests: chunk text stays out of every shuffle
    val exchanges = out.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Exchange")).toSeq
    exchanges should not be empty
    all(exchanges) should not include "chunk_text"
  }

  test("chunkNovelty matches a naive first-seen window oracle on " +
      "overlap-heavy fixtures") {
    val docs = (1L to 40L).map { i =>
      // recycled 12-token slabs: doc i reuses slab (i % 5) twice plus a
      // unique tail, so cross-doc chunk collisions are dense
      val slab = (0 until 12).map(k => s"w${i % 5}_$k").mkString(" ")
      (i, s"$slab $slab unique_$i")
    }.toDF("id", "t")
    val got = Dedup.chunkNovelty(docs, "id", "t", chunkTokens = 12)
    val chunks = Packing.chunkText(docs, "id", "t", 12, 12)
      .select($"id", md5($"chunk_text").as("dig"))
    val naive = chunks.as("c")
      .join(chunks.groupBy($"dig").agg(min($"id").as("first")), "dig")
      .groupBy($"id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"first" < $"id", 1L).otherwise(0L)).as("n_seen_chunks"))
      .select($"id", $"n_chunks", $"n_seen_chunks",
        round(lit(1.0) - $"n_seen_chunks".cast("double") / $"n_chunks", 6)
          .as("novel_fraction"))
    assertSameRows(got, naive)
  }
}

class CrossSourceSpec extends SparkSpec {
  import spark.implicits._

  test("crossSourceDupMatrix counts doc pairs per unordered source pair " +
      "and never materializes doc-level pairs for same-source dups") {
    val docs = Seq(
      (1L, "dup one", "A"), (2L, "dup one", "A"), (3L, "dup one", "B"),
      (4L, "dup one", "B"), (5L, "dup one", "C"),
      (6L, "dup two", "A"), (7L, "dup two", "C"),
      (8L, "only here", "A"))
      .toDF("id", "body", "src")
    val out = Dedup.crossSourceDupMatrix(docs, "id", "body", "src")
    val m = out.as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // "dup one": A×B = 2*2, A×C = 2*1, B×C = 2*1; "dup two": A×C = 1*1
    m shouldBe Map(("A", "B") -> 4L, ("A", "C") -> 3L, ("B", "C") -> 2L)
    // text never shuffles: only digests and sources ride the exchanges
    val exchanges = out.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Exchange")).toSeq
    exchanges should not be empty
    all(exchanges) should not include "body"
  }
}

class BoilerplateSpec extends SparkSpec {
  import spark.implicits._

  test("boilerplateSignals: corpus document frequency marks recurring " +
      "n-grams; per-doc distinct containment") {
    // "h1 h2 h3" appears in docs 1-3 (df=3); each doc has unique grams too.
    // Doc 4 repeats the common gram 3 times — still ONE distinct shingle.
    val docs = Seq(
      (1L, "h1 h2 h3 a1 a2 a3"),
      (2L, "h1 h2 h3 b1 b2 b3"),
      (3L, "h1 h2 h3 c1 c2"),
      (4L, "h1 h2 h3 h1 h2 h3 h1 h2 h3"))
      .toDF("id", "t")
    val out = TextAnalysis.boilerplateSignals(docs, "id", "t",
      n = 3, minDocs = 3)
    val m = out.as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 1: distinct 3-grams of 6 tokens = 4; common: "h1 h2 h3" (df=4)
    m(1L) shouldBe ((4L, 1L))
    m(2L) shouldBe ((4L, 1L))
    m(3L) shouldBe ((3L, 1L))
    // doc 4: 9 tokens → 7 windows, distinct = {h1 h2 h3, h2 h3 h1, h3 h1 h2}
    // of which only "h1 h2 h3" reaches df 3 (the rotations exist only here)
    m(4L) shouldBe ((3L, 1L))
  }

  test("boilerplateSignals: document frequency combines map-side and " +
      "joins on the hash — no per-gram window partition in the plan") {
    // force the shuffle regime (tiny fixtures broadcast the exploded
    // side): hot grams must arrive as a joinable one-row aggregate,
    // never as a single window partition holding every occurrence
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = (1L to 300L)
        .map(i => (i, s"x y z w${i % 7} tail piece here")).toDF("id", "t")
      val out = TextAnalysis.boilerplateSignals(docs, "id", "t", 3, 2)
      out.collect()
      val plan = out.queryExecution.executedPlan.toString
      plan should include("partial_count") // map-side combine on the hash
      plan should include("SortMergeJoin [__h")
      (plan should not).include("Window")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}

class TextNormSpec extends SparkSpec {
  import spark.implicits._

  test("NFC normalization: decomposed and precomposed forms digest " +
      "identically; whitespace collapses; already-normal text unchanged") {
    val df = Seq(
      (1L, "Cafe\u0301  du   Monde"), // decomposed e + combining acute
      (2L, "Café du Monde"),       // precomposed é
      (3L, "  plain   ascii\ttext  "))
      .toDF("id", "t")
    val out = df.select($"id",
      TextAnalysis.normalizeText($"t").as("nt"),
      md5(TextAnalysis.normalizeText($"t")).as("d"))
      .as[(Long, String, String)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    out(1L)._1 shouldBe "café du monde"
    out(1L) shouldBe out(2L) // NFC recomposition makes the forms equal
    out(3L)._1 shouldBe "plain ascii text"
  }

  test("NFC expression is null-safe and survives codegen in a filter") {
    // spark.range, not a local Seq: ConvertToLocalRelation would fold a
    // local fixture at optimization time and never exercise codegen
    val df = spark.range(100).selectExpr("id",
      "CASE WHEN id % 10 = 0 THEN NULL ELSE concat('v', id) END AS t")
    val out = df.select($"id",
      graft.functions.NfcNormalizeExpr.nfc($"t").as("n"))
    out.filter($"n".isNull).count() shouldBe 10L
    val hit = out.filter($"n" === "v7")
    hit.select($"id").as[Long].collect() shouldBe Array(7L)
    // stays inside a whole-stage span (reference-call codegen): every
    // operator evaluating the expression carries the *(n) codegen marker
    val nfcLines = hit.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("nfcnormalize")).toSeq
    nfcLines should not be empty
    all(nfcLines) should include("*(")
  }

  test("topTermsPerGroup ranks by count desc with token tie-break; the " +
      "rank window sits above the count aggregate (histogram input)") {
    val df = Seq(
      ("en", "aa bb aa cc aa bb"), ("en", "bb cc dd"),
      ("fr", "xx yy xx"))
      .toDF("lang", "t")
    val out = TextAnalysis.topTermsPerGroup(df, "lang", "t", k = 2)
    val rows = out.as[(String, String, Long, Int)].collect().sortBy(r => (r._1, r._4))
    rows shouldBe Array(
      ("en", "aa", 3L, 1), ("en", "bb", 3L, 2), // tie at 3 → token order
      ("fr", "xx", 2L, 1), ("fr", "yy", 1L, 2))
    // the window's input is the aggregated (group, token) histogram —
    // the plan shows Window above HashAggregate, never over raw rows
    val plan = out.queryExecution.executedPlan.toString
    plan.indexOf("Window") should be >= 0
    plan.indexOf("HashAggregate") should be >= 0
    plan.indexOf("Window") should be < plan.indexOf("Generate")
  }
}

class ContainmentSpec extends SparkSpec {
  import spark.implicits._

  test("containment catches the quote-inclusion regime Jaccard misses") {
    val long =
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 " +
      "w19 w20 w21 w22 w23 w24 w25 w26 w27 w28 w29 w30"
    val docs = Seq(
      (1L, long),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"), // a quote: first 8 tokens of doc 1
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8"))
      .toDF("id", "t")
    val cont = Dedup.ngramContainmentPairs(docs, "id", "t",
      shingleSize = 3, threshold = 0.9)
    cont.select($"id_a", $"id_b", $"containment")
      .as[(Long, Long, Double)].collect() shouldBe Array((1L, 2L, 1.0))
    // the same pair at the same bar is invisible to Jaccard: 6 shared
    // shingles / (28 + 6 - 6) union
    Dedup.ngramJaccardPairs(docs, "id", "t", shingleSize = 3,
      threshold = 0.9).count() shouldBe 0L
  }

  test("containment matches the exact intersection arithmetic on " +
      "overlapping prefixes") {
    val docs = Seq(
      (1L, "a b c d e f"),  // shingles: abc bcd cde def (4)
      (2L, "a b c d"),      // shingles: abc bcd (2) — both in doc 1
      (3L, "c d e x y"))    // cde dex exy — 1 of 3 in doc 1
      .toDF("id", "t")
    val out = Dedup.ngramContainmentPairs(docs, "id", "t", 3, 0.3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    out((1L, 2L)) shouldBe ((2L, 1.0))      // 2 / min(4, 2)
    out((1L, 3L)) shouldBe ((1L, 0.333333)) // 1 / min(4, 3)
  }
}

class FeatureHashSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.FeatureHashExpr

  test("featureHash: multiset counts per md5 bucket; vectors feed the " +
      "cosine stack (identical docs 1.0, disjoint docs 0.0)") {
    val docs = Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "alpha beta alpha gamma"),   // identical
      (3L, "delta epsilon zeta eta"))   // disjoint vocab
      .toDF("id", "t")
    val vecs = docs
      .select($"id", Dedup.tokens($"t").as("__tk"))
      .select($"id", FeatureHashExpr.featureHash($"__tk", 32).as("v"))
    // total mass = token count (multiset: 'alpha' counts twice)
    vecs.select($"id",
        aggregate($"v", lit(0.0f), (acc, x) => acc + x).as("m"))
      .as[(Long, Float)].collect().toMap shouldBe
      Map(1L -> 4.0f, 2L -> 4.0f, 3L -> 4.0f)
    val a = vecs.filter($"id" === 1L).as("a")
    val pair = (x: Long) => a.crossJoin(vecs.filter($"id" === x).as("b"))
      .select(graft.operators.Similarity.cosine(col("a.v"), col("b.v"))
        .as("c")).as[Double].head()
    pair(2L) shouldBe 1.0 +- 1e-6
    pair(3L) shouldBe 0.0 +- 1e-6
    // SQL surface
    graft.functions.GraftFunctions.register(spark)
    docs.createOrReplaceTempView("fh_docs")
    spark.sql("SELECT size(feature_hash(split(t, ' '), 32)) AS d FROM fh_docs")
      .as[Int].collect().toSet shouldBe Set(32)
  }
}

class FunnelSpec extends SparkSpec {
  import spark.implicits._

  test("funnel: greedy ordered matching — steps count only strictly " +
      "after the previous match; users without step 1 are absent") {
    val events = Seq(
      (1L, "view", 1L), (1L, "click", 2L), (1L, "purchase", 3L), // full
      (2L, "click", 1L), (2L, "view", 2L), (2L, "purchase", 3L), // view@2, no later click
      (3L, "view", 5L), (3L, "click", 3L),                       // click precedes view
      (4L, "click", 1L), (4L, "purchase", 2L),                   // never viewed
      (5L, "view", 1L), (5L, "view", 10L), (5L, "click", 5L))    // greedy: earliest view wins
      .toDF("uid", "etype", "tsl")
      .withColumn("ts", timestamp_millis($"tsl"))
    val out = Funnel.funnel(events, "uid", "etype", "ts",
        Seq("view", "click", "purchase"))
      .select($"uid", $"n_completed").as[(Long, Int)].collect().toMap
    out shouldBe Map(1L -> 3, 2L -> 1, 3L -> 1, 5L -> 2) // 4 absent
  }

  test("conversionCurve: reach counts drop monotonically, rates vs " +
      "first and previous, step-1 prev is null") {
    // same event shapes as the funnel spec: n_completed 3,1,1,2 for
    // users 1,2,3,5 (user 4 never views and is absent)
    val events = Seq(
      (1L, "view", 1L), (1L, "click", 2L), (1L, "purchase", 3L),
      (2L, "click", 1L), (2L, "view", 2L), (2L, "purchase", 3L),
      (3L, "view", 5L), (3L, "click", 3L),
      (4L, "click", 1L), (4L, "purchase", 2L),
      (5L, "view", 1L), (5L, "view", 10L), (5L, "click", 5L))
      .toDF("uid", "etype", "tsl")
      .withColumn("ts", timestamp_millis($"tsl"))
    val out = Funnel.conversionCurve(events, "uid", "etype", "ts",
        Seq("view", "click", "purchase"))
      .as[(Long, String, Long, Option[Double], Option[Double])]
      .collect().sortBy(_._1)
    out shouldBe Array(
      (1L, "view", 4L, Some(1.0), None),
      (2L, "click", 2L, Some(0.5), Some(0.5)),
      (3L, "purchase", 1L, Some(0.25), Some(0.5)))
  }

  test("stepLatency: whole-second first-to-last quantiles over " +
      "completing users only") {
    val events = Seq(
      // user 1 completes in 100.5s -> floor 100
      (1L, "view", 0L), (1L, "click", 60000L), (1L, "purchase", 100500L),
      // user 2 completes in 250.5s -> floor 250
      (2L, "view", 0L), (2L, "click", 1000L), (2L, "purchase", 250500L),
      // user 3 never purchases: excluded
      (3L, "view", 0L), (3L, "click", 5000L))
      .toDF("uid", "etype", "tsl")
      .withColumn("ts", timestamp_millis($"tsl"))
    val out = Funnel.stepLatency(events, "uid", "etype", "ts",
        Seq("view", "click", "purchase"), ps = Seq(0.5, 1.0))
      .as[(Double, Long, Long)].collect().sortBy(_._1)
    out shouldBe Array((0.5, 100L, 2L), (1.0, 250L, 2L))
  }

  test("transitionMatrix: per-user ordered steps, row-normalized " +
      "probabilities, no cross-user transition") {
    val events = Seq(
      // user 1: view > click > view  => view>click, click>view
      (1L, "view", 1L), (1L, "click", 2L), (1L, "view", 3L),
      // user 2: view > view          => view>view
      (2L, "view", 1L), (2L, "view", 2L),
      // user 3: lone event, no transition; and NO purchase>view edge
      // even though user 1 views after user 3 purchases
      (3L, "purchase", 2L))
      .toDF("uid", "etype", "tsl")
      .withColumn("ts", timestamp_millis($"tsl"))
    val out = Funnel.transitionMatrix(events, "uid", "etype", "ts", "tsl")
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    out shouldBe Map(
      ("view", "click") -> ((1L, 2L, 0.5)),
      ("view", "view") -> ((1L, 2L, 0.5)),
      ("click", "view") -> ((1L, 1L, 1.0)))
  }

  test("retentionMatrix: weekly cohorts from first activity, distinct " +
      "users per offset, multi-event weeks count once") {
    // Mondays: 2024-01-01 (W0), 2024-01-08 (W1), 2024-01-15 (W2)
    val events = Seq(
      (1L, "2024-01-02"), (1L, "2024-01-03"), (1L, "2024-01-16"), // W0, W0, W2
      (2L, "2024-01-10"),                                         // W1
      (3L, "2024-01-05"), (3L, "2024-01-08"))                     // W0, W1
      .toDF("uid", "ds")
      .withColumn("ts", to_timestamp($"ds"))
    val out = Funnel.retentionMatrix(events, "uid", "ts")
      .select($"cohort_week".cast("string"), $"week_offset", $"n_users")
      .as[(String, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    out shouldBe Map(
      ("2024-01-01", 0) -> 2L, // users 1 and 3 in their cohort week
      ("2024-01-01", 1) -> 1L, // user 3 returns in W1
      ("2024-01-01", 2) -> 1L, // user 1 returns in W2
      ("2024-01-08", 0) -> 1L) // user 2's own cohort
  }

  test("rollingActive: dau vs rolling wau, duplicate events collapse, " +
      "silent days emit no row") {
    val events = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-01"), // same user+day: one credit
      (2L, "2024-01-01"),
      (1L, "2024-01-03"),                     // Jan 2 is silent: no row
      (3L, "2024-01-09"))                     // Jan 1 outside its window
      .toDF("uid", "ds")
      .withColumn("ts", to_timestamp($"ds"))
    val out = Funnel.rollingActive(events, "uid", "ts", windowDays = 7)
      .select($"day".cast("string"), $"dau", $"wau")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    out shouldBe Map(
      "2024-01-01" -> ((2L, 2L)),
      "2024-01-03" -> ((1L, 2L)),  // window [Dec 28..Jan 3]: users 1, 2
      "2024-01-09" -> ((1L, 2L))) // window [Jan 3..Jan 9]: users 1, 3
  }

  test("transitionTimes: gaps pair consecutive events per user, median " +
      "is the exact discrete quantile") {
    val events = Seq(
      // user 1: view -(60s)-> click -(120s)-> buy
      (1L, 10L, "2024-01-01 00:00:00", "view"),
      (1L, 11L, "2024-01-01 00:01:00", "click"),
      (1L, 12L, "2024-01-01 00:03:00", "buy"),
      // user 2: view -(180s)-> click (cross-user gaps never pair)
      (2L, 20L, "2024-01-05 00:00:00", "view"),
      (2L, 21L, "2024-01-05 00:03:00", "click"))
      .toDF("uid", "eid", "ds", "etype")
      .withColumn("ts", to_timestamp($"ds"))
    val out = Funnel.transitionTimes(events, "uid", "etype", "ts", "eid")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    // view>click gaps {60s, 180s}: discrete median = 60s (ceil(0.5*2)=1st)
    out shouldBe Array(
      ("click>buy", 120000000L, 1L), ("view>click", 60000000L, 2L))
  }

  test("pathNgrams: per-user order rides (ts, tie), short users drop, " +
      "top-k ties break on path") {
    val events = Seq(
      // user 1: view > click > buy (tie at 00:01 broken by event_id)
      (1L, 10L, "2024-01-01 00:00", "view"),
      (1L, 11L, "2024-01-01 00:01", "click"),
      (1L, 12L, "2024-01-01 00:01", "buy"),
      // user 2: same path
      (2L, 20L, "2024-01-02 00:00", "view"),
      (2L, 21L, "2024-01-02 00:01", "click"),
      (2L, 22L, "2024-01-02 00:02", "buy"),
      // user 3: only two events -> no trigram
      (3L, 30L, "2024-01-03 00:00", "view"),
      (3L, 31L, "2024-01-03 00:01", "view"))
      .toDF("uid", "eid", "ds", "etype")
      .withColumn("ts", to_timestamp($"ds"))
    val out = Funnel.pathNgrams(events, "uid", "etype", "ts", "eid",
      n = 3, k = 5).as[(String, Long)].collect()
    out shouldBe Array(("view>click>buy", 2L))
  }

  test("associationRules: exact support/confidence/lift from distinct " +
      "baskets, both rule directions, threshold prunes rare pairs") {
    // 4 users; baskets: {view,click}, {view,click,buy}, {view}, {buy}
    // repeated events collapse (user 1 views twice = one basket item)
    val events = Seq(
      (1L, "view"), (1L, "view"), (1L, "click"),
      (2L, "view"), (2L, "click"), (2L, "buy"),
      (3L, "view"),
      (4L, "buy"))
      .toDF("uid", "etype")
    val out = Funnel.associationRules(events, "uid", "etype",
        minPairUsers = 2)
      .as[(String, String, Long, Long, Long, Double, Double, Double)]
      .collect().sortBy(r => (r._1, r._2))
    // only {view,click} co-occurs >= 2 times (view+buy and click+buy
    // are single-user pairs and must be pruned)
    out shouldBe Array(
      // click->view: conf 2/2 = 1, lift = 2*4/(2*3)
      ("click", "view", 2L, 2L, 3L, 0.5, 1.0,
        math.rint(2.0 * 4 / 2 / 3 * 1e6) / 1e6),
      // view->click: conf 2/3, lift symmetric
      ("view", "click", 2L, 3L, 2L, 0.5,
        math.rint(2.0 / 3 * 1e6) / 1e6,
        math.rint(2.0 * 4 / 3 / 2 * 1e6) / 1e6))
  }

  test("associationRules: pair join is user-keyed, no cartesian product") {
    val events = Seq((1L, "a"), (1L, "b"), (2L, "a")).toDF("uid", "etype")
    val plan = Funnel.associationRules(events, "uid", "etype", 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"pair generation must stay user-keyed:\n$plan")
  }
}

class ReconcileSpec extends SparkSpec {
  import spark.implicits._

  test("categoryDrift: exact chi-square contributions, new category " +
      "reports counts with null chisq, vanished category included") {
    val oldDf = (Seq.fill(80)("a") ++ Seq.fill(20)("b")).toDF("c")
    val newDf = (Seq.fill(40)("a") ++ Seq.fill(50)("b") ++
      Seq.fill(10)("z")).toDF("c")
    val r = Reconcile.categoryDrift(oldDf, newDf, "c")
      .as[(String, Long, Long, Option[Double], Option[Double])]
      .collect().map(x => x._1 -> x).toMap
    // E(a) = 0.8*100 = 80; chisq = 40^2/80 = 20
    r("a") shouldBe (("a", 80L, 40L, Some(80.0), Some(20.0)))
    // E(b) = 20; chisq = 30^2/20 = 45
    r("b") shouldBe (("b", 20L, 50L, Some(20.0), Some(45.0)))
    // z is new: counts surface, chisq undefined
    r("z") shouldBe (("z", 0L, 10L, Some(0.0), None))
  }

  test("diffFrames classifies added/removed/changed/unchanged; digests " +
      "keep content out of the join shuffle") {
    val oldDf = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "t", "v")
    val newDf = Seq((2L, "b", 20), (3L, "c", 31), (4L, "d", 40))
      .toDF("id", "t", "v")
    val out = Reconcile.diffFrames(oldDf, newDf, "id")
    out.as[(Long, String)].collect().toMap shouldBe Map(
      1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added")
    val exchanges = out.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Exchange")).toSeq
    exchanges should not be empty
    all(exchanges) should not include "t#"

    // explicit contentCols restrict the comparison: v-only diff calls 3
    // unchanged on the t edit
    val out2 = Reconcile.diffFrames(oldDf,
      newDf.withColumn("t", lit("X")), "id", contentCols = Seq("v"))
    out2.filter($"id" === 2L).select($"status").as[String]
      .collect() shouldBe Array("unchanged")
    an[IllegalArgumentException] should be thrownBy
      Reconcile.diffFrames(oldDf, newDf.withColumnRenamed("v", "w"), "id",
        contentCols = Seq("w"))
  }

  test("pseudonymize: referentially consistent tokens, nulls stay null") {
    val df = Seq((1L, java.lang.Long.valueOf(7L)),
      (2L, java.lang.Long.valueOf(7L)), (3L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "user")
    val out = Redact.pseudonymize(df, Seq("user"), "s4lt")
      .as[(Long, Option[String])].collect().toMap
    out(1L) shouldBe out(2L)            // same id → same token
    out(1L) should not be None
    out(1L).get should have length 64   // sha256 hex
    out(3L) shouldBe None               // null key stays null
  }
}

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  test("scd2Compress: value runs collapse, ranges chain, the open row " +
      "is current, null values are legal runs, ONE exchange") {
    val log = Seq(
      (1L, Some("a"), 10L), (1L, Some("a"), 20L), // same run
      (1L, Some("b"), 30L),                        // new run
      (1L, Some("b"), 40L), (1L, Some("a"), 50L),  // back to a: new run
      (2L, None: Option[String], 5L), (2L, Some("x"), 15L))
      .toDF("k", "v", "tie")
      .withColumn("ts", timestamp_millis($"tie"))
    val out = Reconcile.scd2Compress(log, "k", "v", "ts", "tie")
    val rows = out.select($"k", $"v",
        unix_millis($"valid_from"), unix_millis($"valid_to"),
        $"is_current")
      .as[(Long, Option[String], Long, Option[Long], Boolean)]
      .collect().sortBy(r => (r._1, r._3))
    rows shouldBe Array(
      (1L, Some("a"), 10L, Some(30L), false),
      (1L, Some("b"), 30L, Some(50L), false),
      (1L, Some("a"), 50L, None, true),
      (2L, None, 5L, Some(15L), false),
      (2L, Some("x"), 15L, None, true))
    // both windows share the key partitioning: exactly one exchange
    out.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange")) shouldBe 1
  }
}

class SqlFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions equal the Column API and reject " +
      "non-literal size parameters by name") {
    graft.functions.GraftFunctions.register(spark)
    val docs = Seq((1L, "a b c d e f"), (2L, "x y z w")).toDF("id", "t")
    docs.createOrReplaceTempView("sqlfun_docs")
    val viaSql = spark.sql(
      """SELECT id, simhash64(split(trim(lower(t)), '\\s+')) AS sh,
        |  shingle_minhash(split(trim(lower(t)), '\\s+'), 3, 8) AS mh,
        |  nfc_normalize(t) AS nt
        |FROM sqlfun_docs""".stripMargin)
    val viaCols = docs.select($"id",
      graft.functions.SimHashExpr.simhash(Dedup.tokens($"t")).as("sh"),
      graft.functions.ShingleMinHashExpr.signature(Dedup.tokens($"t"), 3, 8)
        .as("mh"),
      graft.functions.NfcNormalizeExpr.nfc($"t").as("nt"))
    assertSameRows(viaSql, viaCols)
    // a column-valued size parameter fails at registration-builder time
    // with the function name in the message
    val err = intercept[Exception] {
      spark.sql("SELECT shingle_hashes(split(t, ' '), CAST(id AS INT)) " +
        "FROM sqlfun_docs").collect()
    }
    err.getMessage should include("shingle_hashes")
    // vector functions ride along: cosine of a vector with itself is 1
    spark.sql(
      """SELECT cosine_similarity(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
        |  CAST(array(1.0, 2.0) AS ARRAY<FLOAT>)) AS c""".stripMargin)
      .as[Double].collect().head shouldBe 1.0 +- 1e-6
  }
}

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("co-bucketed tables join with ZERO exchanges — the landing " +
      "shuffle is paid once, every later join on the key is free") {
    val left = spark.range(2000).selectExpr("id", "concat('L', id) AS l")
    val right = spark.range(2000).selectExpr("id", "id % 13 AS v")
    Layout.writeBucketed(left, "layout_spec_l", Seq("id"), 4, Seq("id"))
    Layout.writeBucketed(right, "layout_spec_r", Seq("id"), 4, Seq("id"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("layout_spec_l")
        .join(spark.table("layout_spec_r"), "id")
      joined.count() shouldBe 2000L
      val plan = joined.queryExecution.executedPlan.toString
      plan should include("SortMergeJoin")
      (plan should not).include("Exchange")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS layout_spec_l")
      spark.sql("DROP TABLE IF EXISTS layout_spec_r")
    }
  }

  test("sorted export: per-file key ranges are pairwise disjoint and a " +
      "range predicate reaches the scan as a pushed filter — through the " +
      "ATOMIC writer, which must not disturb the range clustering") {
    val dir = tmp("layout_sorted") + "/t"
    val df = spark.range(10000).selectExpr("id",
      "CAST(hash(id) % 1000 AS BIGINT) AS key")
    Layout.writeSortedSafe(df,
      new graft.fsops.FsOps(spark.sparkContext.hadoopConfiguration),
      dir, "key", 6)
    val back = spark.read.parquet(dir)
    back.count() shouldBe 10000L
    // disjointness: collect (file, min, max) and check sorted ranges
    // never overlap — the property parquet footer pruning relies on
    val ranges = back
      .groupBy(input_file_name().as("f"))
      .agg(min($"key").as("lo"), max($"key").as("hi"))
      .as[(String, Long, Long)].collect().map(r => (r._2, r._3))
      .sortBy(_._1)
    ranges.length should be > 1
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => hi1 should be <= lo2
      case _ =>
    }
    // the range predicate is pushed into the parquet scan
    val q = back.filter($"key".between(-100, 100))
    q.queryExecution.executedPlan.toString should include("PushedFilters")
    q.count() shouldBe df.filter($"key".between(-100, 100)).count()
  }

  test("zValue interleaves bits; the Morton curve is monotone per axis " +
      "inside a fixed other-axis") {
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 1L), (5L, 6L))
      .toDF("x", "y")
    pairs.select(Layout.zValue($"x", $"y", bits = 3)).as[Long]
      .collect() shouldBe
      // (3,1)=0b11,0b01 -> x0@0 x1@2 y0@1 = 1+4+2 = 7
      // (5,6)=0b101,0b110 -> x:1+16, y:8+32 = 57
      Array(0L, 1L, 2L, 7L, 57L)
  }

  test("z-order clusters BOTH dimensions: a y-filter materializes far " +
      "fewer rows from the z-sorted layout than from an x-sorted one") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = tmp("layout_z")
    val df = spark.range(40000).selectExpr(
      "CAST(hash(id, 1) % 256 AS BIGINT) & 255 AS x",
      "CAST(hash(id, 2) % 256 AS BIGINT) & 255 AS y",
      "id AS payload")
    Layout.writeZOrdered(df, s"$dir/z", "x", "y", bits = 8, numFiles = 16)
    Layout.writeSorted(df, s"$dir/xsort", "x", 16)
    def scanRows(path: String): Long = {
      val q = spark.read.parquet(path).filter($"y" < 16).select($"y")
      q.collect()
      q.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
        .metrics("numOutputRows").value
    }
    val zRows = scanRows(s"$dir/z")
    val xRows = scanRows(s"$dir/xsort")
    // x-sorted files all span the full y domain -> no skipping; z-sorted
    // files cover (x, y) rectangles -> most files never materialize
    zRows.toDouble should be < xRows.toDouble / 2
    // and the data round-trips identically
    spark.read.parquet(s"$dir/z").filter($"y" < 16).count() shouldBe
      df.filter($"y" < 16).count()
  }

  test("manifest-pruned range read: only overlapping files are opened, " +
      "result equals the plain filter, empty range keeps the schema") {
    val dir = tmp("layout_manifest")
    val df = spark.range(10000).selectExpr("id",
      "CAST(pmod(hash(id), 1000) AS BIGINT) AS key")
    Layout.writeSortedWithManifest(spark, df, s"$dir/data", "key", 8,
      s"$dir/manifest")
    val manifest = spark.read.parquet(s"$dir/manifest")
    manifest.count() shouldBe 8L
    // a narrow range selects a strict subset of files in the manifest
    val picked = manifest.filter($"lo" <= 120L && $"hi" >= 80L).count()
    picked should be < 8L
    // pruning is semantics-preserving
    val pruned = Layout.readPruned(spark, s"$dir/data", s"$dir/manifest",
      "key", 80L, 120L)
    assertSameRows(pruned,
      spark.read.parquet(s"$dir/data")
        .filter($"key" >= 80L && $"key" <= 120L))
    // and the pruned plan actually scans fewer rows than the table
    pruned.collect()
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get.metrics("numOutputRows").value
    scanned.toDouble should be < 10000.0 / 2
    // out-of-domain range: no files, empty frame, schema intact
    val empty = Layout.readPruned(spark, s"$dir/data", s"$dir/manifest",
      "key", 5000L, 6000L)
    empty.count() shouldBe 0L
    empty.columns.toSeq shouldBe Seq("id", "key")
  }

  test("z-order rectangle pruning: bounding-rect manifest selects a " +
      "strict file subset on BOTH axes, result equals the plain filter") {
    val dir = tmp("layout_zmanifest")
    val df = spark.range(20000).selectExpr("id",
      "CAST(pmod(hash(id), 256) AS BIGINT) AS x",
      "CAST(pmod(hash(id * 31), 256) AS BIGINT) AS y")
    Layout.writeZOrderedWithManifest(spark, df, s"$dir/data", "x", "y",
      bits = 8, numFiles = 16, s"$dir/manifest")
    val manifest = spark.read.parquet(s"$dir/manifest")
    manifest.count() shouldBe 16L
    val picked = manifest.filter($"xlo" <= 80L && $"xhi" >= 40L &&
      $"ylo" <= 80L && $"yhi" >= 40L).count()
    picked should be < 16L
    val pruned = Layout.readPrunedRect(spark, s"$dir/data",
      s"$dir/manifest", "x", "y", 40L, 80L, 40L, 80L)
    assertSameRows(pruned,
      spark.read.parquet(s"$dir/data").filter(
        $"x".between(40L, 80L) && $"y".between(40L, 80L)))
  }
}

class PreparedBenchmarkSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta different tail here now"),
    (3L, "nothing shared with the benchmark at all folks"),
    (4L, "iota kappa lambda mu nu xi omicron pi"))
    .toDF("id", "t")
  private val bench = Seq(
    "alpha beta gamma delta epsilon", "iota kappa lambda mu nu")
    .toDF("qt")

  test("overlapsPrepared is row-identical to overlaps and overlapsBloom; " +
      "the prepared handle amortizes across corpus shards") {
    val direct = Decontaminate.overlaps(corpus, "id", "t", bench, "qt",
      n = 4, minOverlap = 1)
    val pb = Decontaminate.prepareBenchmark(bench, "qt", n = 4)
    try {
      val prepared = Decontaminate.overlapsPrepared(corpus, "id", "t", pb)
      assertSameRows(prepared, direct)
      // a second shard against the SAME handle — the point of preparing
      val shard2 = corpus.filter($"id" % 2 === 0)
      assertSameRows(
        Decontaminate.overlapsPrepared(shard2, "id", "t", pb),
        Decontaminate.overlaps(shard2, "id", "t", bench, "qt", 4, 1))
      // the exact-verify side joins the persisted shingle frame
      Decontaminate.overlapsPrepared(corpus, "id", "t", pb)
        .queryExecution.executedPlan.toString should
        include("InMemoryTableScan")
    } finally pb.release()
  }

  test("decontaminatePrepared drops exactly the contaminated rows; an " +
      "empty benchmark keeps the corpus whole") {
    val pb = Decontaminate.prepareBenchmark(bench, "qt", n = 4)
    try {
      // docs 1, 2 and 4 each share >=1 benchmark 4-gram; only 3 survives
      val out = Decontaminate.decontaminatePrepared(corpus, "id", "t", pb)
      out.select($"id").as[Long].collect().sorted shouldBe Array(3L)
    } finally pb.release()
    val empty = Decontaminate.prepareBenchmark(bench.limit(0), "qt", n = 4)
    try {
      empty.bloom shouldBe null
      Decontaminate.decontaminatePrepared(corpus, "id", "t", empty)
        .count() shouldBe 4
    } finally empty.release()
  }

  test("decontaminatePrepared: the minOverlap=1 presence shortcut keeps " +
      "exactly the rows the count-aggregation form keeps") {
    val pb = Decontaminate.prepareBenchmark(bench, "qt", n = 4)
    try {
      val fast = Decontaminate.decontaminatePrepared(corpus, "id", "t", pb,
        minOverlap = 1)
      // minOverlap = 2 exercises the aggregation branch on the same data;
      // at 1 the reference semantics are "any shared shingle drops":
      // replicate via overlapsPrepared's matched set
      val viaCounts = corpus.join(
        Decontaminate.overlapsPrepared(corpus, "id", "t", pb, 1)
          .select($"id"), Seq("id"), "left_anti")
      assertSameRows(fast, viaCounts)
      // and the aggregation branch still gates higher thresholds
      Decontaminate.decontaminatePrepared(corpus, "id", "t", pb,
        minOverlap = 99).count() shouldBe 4
    } finally pb.release()
  }
}

class StatsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Stats

  test("corrPairs: exact r from moment sums — perfect, inverse, and " +
      "hand-computed mid-strength pairs from one shared n") {
    val df = Seq((1L, 3L, 9L, 2L), (2L, 5L, 7L, 2L), (3L, 7L, 5L, 3L),
      (4L, 9L, 3L, 1L)).toDF("a", "b", "c", "d")
    val out = Stats.corrPairs(df, Seq("a", "b", "c", "d"))
      .as[(String, String, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    out.size shouldBe 6
    all(out.values.map(_._1)) shouldBe 4L
    out(("a", "b"))._2.get shouldBe 1.0 // b = 2a+1
    out(("a", "c"))._2.get shouldBe -1.0 // c = 11-2a
    // d = (2,2,3,1): r(a,d) via the same fixed association
    val (n, sx, sy, sxx, syy, sxy) = (4.0, 10.0, 8.0, 30.0, 18.0, 19.0)
    val expected = math.rint((n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)) *
      1e6) / 1e6
    out(("a", "d"))._2.get shouldBe expected
  }

  test("corrPairs: zero-variance feature yields null r, never NaN; " +
      "a null in ANY feature drops the row for EVERY pair") {
    val df = Seq((Some(1L), Some(10L), Some(5L)),
      (Some(2L), Some(20L), Some(5L)),
      (Some(3L), None, Some(5L))).toDF("x", "y", "k")
    val out = Stats.corrPairs(df, Seq("x", "y", "k"))
      .as[(String, String, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // row 3 has a null y: dropped everywhere, so even (x,k) sees n=2
    all(out.values.map(_._1)) shouldBe 2L
    out(("x", "y"))._2.get shouldBe 1.0
    out(("x", "k"))._2 shouldBe None // k is constant: null, not NaN
    out(("y", "k"))._2 shouldBe None
  }

  test("corrPairs: one scan feeds all pairs — the fan-out happens on " +
      "the single agg row, not against the data") {
    val df = (1L to 100L).map(i => (i, i * 2, i % 7)).toDF("a", "b", "c")
    val plan = Stats.corrPairs(df, Seq("a", "b", "c"))
      .queryExecution.executedPlan.toString
    plan.sliding("LocalTableScan".length).count(_ == "LocalTableScan") shouldBe 1
  }

  test("decayedScore: whole-day ages against the frame's own max ts, " +
      "hand-computed half-life weights, no window in the plan") {
    import java.sql.Timestamp
    val base = Timestamp.valueOf("2026-01-10 12:00:00")
    def daysAgo(d: Int) = new Timestamp(base.getTime - d * 86400000L)
    val df = Seq(
      (1L, base, 10.0),        // age 0 -> weight 1
      (1L, daysAgo(3), 8.0),   // age 3, halfLife 3 -> weight 0.5
      (2L, daysAgo(6), 4.0),   // age 6 -> weight 0.25
      (2L, base, 1.0))
      .toDF("user", "ts", "v")
    val out = Stats.decayedScore(df, "ts", "user", "v", halfLifeDays = 3.0)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    out(1L) shouldBe ((2L, 18.0, 10.0 + 8.0 * 0.5))
    out(2L) shouldBe ((2L, 5.0, 1.0 + 4.0 * 0.25))
    // partial days floor to whole days: 2.5 days old -> age 2
    val part = Seq((1L, new Timestamp(base.getTime - 216000000L), 1.0),
      (1L, base, 0.0)).toDF("user", "ts", "v")
    Stats.decayedScore(part, "ts", "user", "v", 3.0)
      .as[(Long, Long, Double, Double)].collect().head._4 shouldBe
      math.rint(math.pow(0.5, 2.0 / 3.0) * 1e6) / 1e6
    // null key/ts/value rows drop before the reference ts is taken
    val withNull = df.union(Seq((3L, null.asInstanceOf[Timestamp], 9.0))
      .toDF("user", "ts", "v"))
    Stats.decayedScore(withNull, "ts", "user", "v", 3.0)
      .collect().length shouldBe 2
    // one agg over the rows; the 1-row reference broadcasts (no SMJ,
    // no window against the data)
    val plan = Stats.decayedScore(df, "ts", "user", "v", 3.0)
      .queryExecution.executedPlan.toString
    plan should not include "SortMergeJoin"
    plan should not include "Window"
    plan should include ("BroadcastNestedLoopJoin")
  }

  test("watermarkLateness: lateness vs per-key running max in arrival " +
      "order, in-order streams score all-zero, quantiles hand-computed") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // user 1 arrival order (by seq): t=10, 20, 13 (7 s late), 25,
    // 18 (7 s late, vs running max 25); user 2 in order
    val df = Seq(
      (1L, 1L, ts(10)), (2L, 1L, ts(20)), (3L, 1L, ts(13)),
      (4L, 1L, ts(25)), (5L, 1L, ts(18)),
      (6L, 2L, ts(5)), (7L, 2L, ts(6)))
      .toDF("seq", "user", "t")
    val out = Stats.watermarkLateness(df, "t", "seq", "user",
        ps = Seq(0.5, 1.0))
      .as[(Double, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // lateness multiset {0,0,0,0,0,7,7}: p50 = 0, p100 = 7
    out(0.5) shouldBe ((0L, 7L, 2L, Some(math.rint(2.0 / 7 * 1e6) / 1e6)))
    out(1.0)._1 shouldBe 7L
    // fully in-order: p100 lateness 0, zero late events
    val ordered = df.filter($"user" === 2)
    Stats.watermarkLateness(ordered, "t", "seq", "user", Seq(1.0))
      .as[(Double, Long, Long, Long, Option[Double])].head() shouldBe
      ((1.0, 0L, 2L, 0L, Some(0.0)))
  }

  test("keySkewReport: hand-computed hot-key stats; uniform keys score " +
      "skew_factor 1; null keys excluded") {
    // key sizes: a=6, b=2, c=1, d=1 -> p50=1, p99=6, max=6
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d") ++
      Seq(null.asInstanceOf[String])).toDF("k")
    val out = Stats.keySkewReport(df, "k")
      .as[(Long, Long, Long, Long, Long, Double, Double)].head()
    out shouldBe ((10L, 4L, 6L, 1L, 6L, 0.6, 6.0))
    val uniform = Seq("a", "a", "b", "b").toDF("k")
    Stats.keySkewReport(uniform, "k")
      .as[(Long, Long, Long, Long, Long, Double, Double)]
      .head() shouldBe ((4L, 2L, 2L, 2L, 2L, 0.5, 1.0))
  }

  test("giniConcentration: even corpus scores 0, hand-computed skew " +
      "matches the rank identity, null groups excluded") {
    // even: two groups x 3 rows each -> G = 0
    val even = Seq("a", "a", "a", "b", "b", "b").toDF("src")
    val (kE, nE, gE) = Stats.giniConcentration(even, "src")
      .as[(Long, Long, Double)].head()
    (kE, nE, gE) shouldBe ((2L, 6L, 0.0))
    // skew: sizes ascending x = (1, 3); Σi·x = 1·1 + 2·3 = 7;
    // G = 2·7/(2·4) − 3/2 = 0.25. A null-group row must not count.
    val skew = Seq(Some("a"), Some("b"), Some("b"), Some("b"), None)
      .toDF("src")
    val (kS, nS, gS) = Stats.giniConcentration(skew, "src")
      .as[(Long, Long, Double)].head()
    (kS, nS, gS) shouldBe ((2L, 4L, 0.25))
    // degenerate single group: identity gives 2·x/x − 2 = 0
    val one = Seq("a", "a").toDF("src")
    Stats.giniConcentration(one, "src")
      .as[(Long, Long, Double)].head() shouldBe ((1L, 2L, 0.0))
  }

  test("seasonalityProfile: cells keyed by Spark dayofweek (Sunday=1) " +
      "and hour, shares sum the cells") {
    // 2024-01-07 is a Sunday (dow 1), 2024-01-08 a Monday (dow 2)
    val ev = Seq("2024-01-07 09:15:00", "2024-01-07 09:45:00",
      "2024-01-08 23:05:00")
      .toDF("dt").withColumn("ts", to_timestamp($"dt"))
    val out = Stats.seasonalityProfile(ev, "ts")
      .as[(Int, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    out shouldBe Map(
      (1, 9) -> ((2L, math.rint(2.0 / 3 * 1e6) / 1e6)),
      (2, 23) -> ((1L, math.rint(1.0 / 3 * 1e6) / 1e6)))
  }

  test("rollingDailyVolume: trailing window spans observed days (a gap " +
      "shortens nothing), first-day pct_change is null") {
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    def day(d: Int, k: Int) = (1 to k).map(i =>
      f"2024-01-$d%02d ${9 + i}%02d:00:00")
    val ev = (day(1, 2) ++ day(2, 4) ++ day(3, 1) ++ day(5, 3))
      .toDF("dt").withColumn("ts", to_timestamp($"dt"))
    val out = Stats.rollingDailyVolume(ev, "ts", window = 3)
      .as[(String, Long, Long, Long, Double, Option[Double])]
      .collect().sortBy(_._1)
    out shouldBe Array(
      ("20240101", 2L, 1L, 2L, 2.0, None),
      ("20240102", 4L, 2L, 6L, 3.0, Some(1.0)),
      ("20240103", 1L, 3L, 7L, r6(7.0 / 3), Some(-0.75)),
      // the jan-5 row's window is the last 3 OBSERVED days (2, 3, 5)
      ("20240105", 3L, 3L, 8L, r6(8.0 / 3), Some(2.0)))
  }

  test("burstiness: hand-computed Fano/CV from per-day counts, " +
      "single-day group nulls out") {
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // type a: day 1 has 2 events, day 2 has 4; type b: one day only
    val ev = Seq(
      ("a", "2024-01-01 10:00:00"), ("a", "2024-01-01 11:00:00"),
      ("a", "2024-01-02 10:00:00"), ("a", "2024-01-02 11:00:00"),
      ("a", "2024-01-02 12:00:00"), ("a", "2024-01-02 13:00:00"),
      ("b", "2024-01-01 09:00:00"))
      .toDF("etype", "dt").withColumn("ts", to_timestamp($"dt"))
    val out = Stats.burstiness(ev, "ts", "etype")
      .as[(String, Long, Long, Double, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    // k=2, total=6, s2=20: mean 3, var (20-18)/1 = 2, fano 2/3
    out("a") shouldBe (("a", 2L, 6L, 3.0, Some(r6(2.0 / 3)),
      Some(r6(math.sqrt(2.0) / 3))))
    out("b") shouldBe (("b", 1L, 1L, 1.0, None, None))
  }

  test("lorenzCurve: vertices from the activity histogram — the bottom " +
      "half of users carries a quarter of the events") {
    // users: two with 1 event, one with 2, one with 4
    val ev = Seq(1L, 2L, 3L, 3L, 4L, 4L, 4L, 4L).toDF("uid")
    val out = Stats.lorenzCurve(ev, "uid")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    out shouldBe Array(
      (1L, 2L, 0.5, 0.25),
      (2L, 1L, 0.75, 0.5),
      (4L, 1L, 1.0, 1.0))
  }

  test("topValuesPerGroup: count-desc rank with value tie-break, k " +
      "truncation, shares within the group") {
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val df = (Seq.fill(3)(("a", "x")) ++ Seq.fill(2)(("a", "y")) ++
      Seq(("a", "z"), ("b", "only"))).toDF("g", "v")
    val out = Stats.topValuesPerGroup(df, "g", "v", k = 2)
      .as[(String, String, Long, Int, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    out shouldBe Map(
      ("a", "x") -> ((3L, 1, 0.5)),
      ("a", "y") -> ((2L, 2, r6(2.0 / 6))),
      ("b", "only") -> ((1L, 1, 1.0)))
  }

  test("corrPerGroup: perfect linear group scores 1, constant column " +
      "nulls, single-row group nulls") {
    val df = Seq(
      ("a", 1L, 2L), ("a", 2L, 4L), ("a", 3L, 6L),  // y = 2x
      ("b", 1L, 5L), ("b", 2L, 5L),                 // constant y
      ("c", 7L, 7L))                                // single row
      .toDF("g", "x", "y")
    val out = Stats.corrPerGroup(df, "g", "x", "y")
      .as[(String, Long, Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    out shouldBe Map("a" -> ((3L, Some(1.0))), "b" -> ((2L, None)),
      "c" -> ((1L, None)))
  }

  test("ksDistance: hand-computed max CDF gap; identical samples " +
      "score 0; empty side nulls out") {
    val a = Seq(1L, 2L).toDF("v")
    val b = Seq(2L, 3L).toDF("v")
    Stats.ksDistance(a, b, "v")
      .as[(Long, Long, Option[Double])].head() shouldBe
      ((2L, 2L, Some(0.5)))
    Stats.ksDistance(a, a, "v")
      .as[(Long, Long, Option[Double])].head() shouldBe
      ((2L, 2L, Some(0.0)))
    Stats.ksDistance(a, a.limit(0), "v")
      .as[(Long, Long, Option[Double])].head() shouldBe
      ((2L, 0L, None))
  }

  test("confusionMatrix: observed cells with both marginals and " +
      "recall/precision shares; null keys drop") {
    val df = Seq(
      ("en", "en"), ("en", "en"), ("en", "fr"),
      ("fr", "fr"), ("fr", "en"))
      .toDF("actual", "pred")
    val out = Stats.confusionMatrix(df, "actual", "pred")
      .as[(String, String, Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    out.size shouldBe 4
    // en declared 3x (2 right, 1 -> fr); en predicted 3x
    out(("en", "en")) shouldBe (("en", "en", 2L, 3L, 3L,
      math.rint(2.0 / 3 * 1e6) / 1e6, math.rint(2.0 / 3 * 1e6) / 1e6))
    out(("fr", "en")) shouldBe (("fr", "en", 1L, 2L, 3L, 0.5,
      math.rint(1.0 / 3 * 1e6) / 1e6))
  }

  test("groupedHistogram: floor bins, boundary values open a new bin, " +
      "empty bins absent") {
    val df = Seq(("a", 0L), ("a", 99L), ("a", 100L), ("a", 250L),
      ("b", 5L)).toDF("g", "v")
    val out = Stats.groupedHistogram(df, "g", "v", binWidth = 100)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    out shouldBe Map(
      ("a", 0L) -> ((100L, 2L)),   // 0 and 99
      ("a", 100L) -> ((200L, 1L)), // exactly 100 opens the next bin
      ("a", 200L) -> ((300L, 1L)),
      ("b", 0L) -> ((100L, 1L)))
  }

  test("cohenKappa: textbook 2x2 agreement, perfect agreement is 1, " +
      "vacuous constant pair nulls, disjoint domains score 0") {
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // classic: 10 yes/yes, 5 no/no, 3 yes/no, 2 no/yes
    val rated = (Seq.fill(10)(("yes", "yes")) ++ Seq.fill(5)(("no", "no"))
      ++ Seq.fill(3)(("yes", "no")) ++ Seq.fill(2)(("no", "yes")))
      .toDF("a", "b")
    val (n1, ag1, po1, pe1, k1) = Stats.cohenKappa(rated, "a", "b")
      .as[(Long, Long, Double, Double, Option[Double])].head()
    (n1, ag1, po1) shouldBe ((20L, 15L, 0.75))
    // pe folds in sorted value order (no, yes): (7*8 + 13*12)/20/20
    val pe = (7.0 * 8 + 13.0 * 12) / 20 / 20
    pe1 shouldBe r6(pe)
    k1.get shouldBe r6((15.0 / 20 - pe) / (1.0 - pe))
    // perfect agreement
    val (_, _, _, _, k2) = Stats.cohenKappa(
      Seq(("x", "x"), ("y", "y")).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Double, Double, Option[Double])].head()
    k2.get shouldBe 1.0
    // both constant on the same value: pe = 1, vacuous
    Stats.cohenKappa(Seq(("x", "x"), ("x", "x")).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Double, Double, Option[Double])].head()
      ._5 shouldBe None
    // disjoint label domains: po = 0, pe = 0 -> kappa 0
    Stats.cohenKappa(Seq(("p", "q"), ("p", "q")).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Double, Double, Option[Double])].head()
      ._5 shouldBe Some(0.0)
  }

  test("mutualInformation: independent columns score mi 0, identical " +
      "columns score mi = h_a, single-valued side nulls nmi") {
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // independent: uniform 2x2 cross product, each cell once
    val ind = Seq(("x", "u"), ("x", "v"), ("y", "u"), ("y", "v"))
      .toDF("a", "b")
    val (n1, ka1, kb1, ha1, hb1, hab1, mi1, nmi1) =
      Stats.mutualInformation(ind, "a", "b")
        .as[(Long, Long, Long, Double, Double, Double, Double,
          Option[Double])].head()
    (n1, ka1, kb1) shouldBe ((4L, 2L, 2L))
    ha1 shouldBe r6(math.log(2))
    hab1 shouldBe r6(math.log(4))
    mi1 shouldBe 0.0
    nmi1.get shouldBe 0.0
    // identical columns: mi = h_a = h_b = h_ab, nmi = 1
    val same = Seq(("x", "x"), ("x", "x"), ("y", "y"), ("z", "z"))
      .toDF("a", "b")
    val (_, _, _, ha2, _, hab2, mi2, nmi2) =
      Stats.mutualInformation(same, "a", "b")
        .as[(Long, Long, Long, Double, Double, Double, Double,
          Option[Double])].head()
    // H = ln(4) − (2·ln2)/4 via the same fixed tree
    val h = math.log(4.0) - 2 * math.log(2.0) / 4
    ha2 shouldBe r6(h)
    hab2 shouldBe r6(h)
    mi2 shouldBe r6(h)
    nmi2.get shouldBe 1.0
    // single-valued b: kb = 1 → nmi null, mi 0; null-keyed rows dropped
    val mono = Seq(("x", Some("u")), ("y", Some("u")), ("y", None))
      .toDF("a", "b")
    val (n3, _, kb3, _, hb3, _, mi3, nmi3) =
      Stats.mutualInformation(mono, "a", "b")
        .as[(Long, Long, Long, Double, Double, Double, Double,
          Option[Double])].head()
    (n3, kb3) shouldBe ((2L, 1L))
    hb3 shouldBe 0.0
    mi3 shouldBe 0.0
    nmi3 shouldBe None
  }
}

class StatsContingencySpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Stats

  test("contingencyAssociation: perfect association gives V=1, " +
      "independence gives chi2=0; null-keyed rows excluded") {
    // perfectly associated: b determined by a (2x2, 2 users each)
    val dep = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val d = Stats.contingencyAssociation(dep, "a", "b")
      .as[(Long, Long, Long, Double, Option[Double])].collect().head
    d shouldBe ((4L, 2L, 1L, 4.0, Some(1.0)))
    // independent: every (a,b) cell equally filled + a null row dropped
    val ind = Seq(Some("x") -> "p", Some("x") -> "q", Some("y") -> "p",
      Some("y") -> "q", None -> "p").toDF("a", "b")
    val i = Stats.contingencyAssociation(ind, "a", "b")
      .as[(Long, Long, Long, Double, Option[Double])].collect().head
    i shouldBe ((4L, 4L, 1L, 0.0, Some(0.0)))
  }

  test("contingencyAssociation: single-valued column -> dof 0, null V; " +
      "cell-domain cap enforced") {
    val one = Seq(("x", "p"), ("x", "q")).toDF("a", "b")
    val r = Stats.contingencyAssociation(one, "a", "b")
      .as[(Long, Long, Long, Double, Option[Double])].collect().head
    r._3 shouldBe 0L
    r._5 shouldBe None
    val wide = (1 to 100).map(i => (s"a$i", s"b$i")).toDF("a", "b")
    val err = intercept[IllegalArgumentException] {
      Stats.contingencyAssociation(wide, "a", "b", maxCells = 10)
    }
    err.getMessage should include("contingency cells")
  }

  test("contingencyAssociation: chi2 equals the hand-built fold over " +
      "sorted cells on an asymmetric table") {
    val df = Seq.fill(5)(("x", "p")) ++ Seq.fill(1)(("x", "q")) ++
      Seq.fill(2)(("y", "p")) ++ Seq.fill(4)(("y", "q"))
    val out = Stats.contingencyAssociation(df.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Double, Option[Double])].collect().head
    // n=12, ra: x=6,y=6; cb: p=7,q=5; computational form folded in
    // (a,b) order: chi2 = Σ n·obs²/(ra·cb) − n
    val cells = Seq(("x", "p", 5L), ("x", "q", 1L), ("y", "p", 2L),
      ("y", "q", 4L))
    val chi2 = cells.foldLeft(0.0) { case (acc, (a, b, obs)) =>
      val ra = 6.0; val cb = if (b == "p") 7L else 5L
      acc + (12.0 * (obs.toDouble * obs.toDouble)) / (ra * cb)
    } - 12L
    out._4 shouldBe math.rint(chi2 * 1e6) / 1e6
    out._5.get shouldBe
      math.rint(math.sqrt(chi2 / (12.0 * 1L)) * 1e6) / 1e6
  }
}

class ConflictingMetadataSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Dedup

  test("conflictingMetadata: only digests with >1 attr value emit, one " +
      "row per value with the doc split; null attrs never conflict") {
    val docs = Seq(
      (1L, "same text", Some("en")), (2L, "same text", Some("fr")),
      (3L, "same text", Some("en")),       // en twice, fr once
      (4L, "clean text", Some("en")), (5L, "clean text", Some("en")),
      (6L, "null text", Some("de")), (7L, "null text", None))
      .toDF("doc_id", "text", "lang")
    val out = Dedup.conflictingMetadata(docs, "text", "lang")
      .as[(String, String, Long, Long)].collect()
      .map(r => r._2 -> (r._3, r._4)).toMap
    // only "same text" is conflicted: en x2, fr x1, n_values 2
    out shouldBe Map("en" -> ((2L, 2L)), "fr" -> ((1L, 2L)))
  }
}

class EmbeddingNormStatsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Similarity

  test("embeddingNormStats: norms fold in element order, zero and null " +
      "vectors counted apart, ragged dims surface, null labels drop") {
    val emb = Seq(
      (Some(1), Some(Seq(3f, 4f))),          // norm 5
      (Some(1), Some(Seq(0f, 0f))),          // zero vector
      (Some(1), None),                       // failed encode
      (Some(1), Some(Seq(1f, 0f, 0f))),      // ragged: 3 dims, norm 1
      (Some(2), Some(Seq(2f, 0f))),          // norm 2
      (None, Some(Seq(9f, 9f))))             // null label: excluded
      .toDF("label", "embedding")
    val out = Similarity.embeddingNormStats(emb, "embedding", "label")
      .as[(Int, Long, Long, Long, Int, Int, Option[Double],
        Option[Double])].collect().map(r => r._1 -> r).toMap
    out.size shouldBe 2
    out(1) shouldBe ((1, 4L, 1L, 1L, 2, 3, Some(0.0), Some(5.0)))
    out(2) shouldBe ((2, 1L, 0L, 0L, 2, 2, Some(2.0), Some(2.0)))
  }
}

class FreqSketchSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.FreqSketch

  test("cms: estimate >= exact always; exact at collision-free width; " +
      "unseen item with untouched buckets reads zero") {
    val items = (Seq.fill(30)("alpha") ++ Seq.fill(7)("beta") ++
      Seq.fill(1)("gamma")).toDF("it")
    val exact = Map("alpha" -> 30L, "beta" -> 7L, "gamma" -> 1L)
    val qs = Seq("alpha", "beta", "gamma").toDF("it")
    // width 2: heavy collisions, but never an underestimate
    val narrow = FreqSketch.cmsEstimate(
      FreqSketch.cmsBuild(items, "it", 4, 2), qs, "it", 4, 2)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, v) => narrow(k) should be >= v }
    // width 65536: buckets effectively private, estimates exact
    val wide = FreqSketch.cmsEstimate(
      FreqSketch.cmsBuild(items, "it", 4, 65536), qs, "it", 4, 65536)
      .as[(String, Long)].collect().toMap
    wide shouldBe exact
    val unseen = FreqSketch.cmsEstimate(
      FreqSketch.cmsBuild(items, "it", 4, 65536),
      Seq("never-seen").toDF("it"), "it", 4, 65536)
      .as[(String, Long)].collect().toMap
    unseen("never-seen") shouldBe 0L
  }

  test("cms: merging per-delivery sketches equals sketching the union " +
      "(counter linearity)") {
    val d1 = (Seq.fill(5)("x") ++ Seq.fill(2)("y")).toDF("it")
    val d2 = (Seq.fill(3)("x") ++ Seq.fill(9)("z")).toDF("it")
    val merged = FreqSketch.cmsMerge(
      FreqSketch.cmsBuild(d1, "it", 4, 8), FreqSketch.cmsBuild(d2, "it", 4, 8))
    val whole = FreqSketch.cmsBuild(d1.union(d2), "it", 4, 8)
    assertSameRows(merged, whole)
  }
}

class NumericDriftSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Reconcile

  test("numericDrift: fixed bins with under/overflow, q130 expected/" +
      "contrib conventions, new-only bin gets null chisq") {
    val oldDf = Seq(5L, 15L, 15L, 25L, -3L).toDF("v")     // bins 0,1,1,2,-1
    val newDf = Seq(5L, 15L, 35L, 99L, 120L).toDF("v")    // bins 0,1,3,9,10
    val out = Reconcile.numericDrift(oldDf, newDf, "v",
        lo = 0L, hi = 100L, nBins = 10)
      .as[(Long, Long, Long, Double, Option[Double])]
      .collect().sortBy(_._1).toList
    val byBin = out.map(r => r._1 -> r).toMap
    out.map(_._1) shouldBe List(-1L, 0L, 1L, 2L, 3L, 9L, 10L)
    byBin(-1L)._2 shouldBe 1L; byBin(-1L)._3 shouldBe 0L
    byBin(10L)._2 shouldBe 0L; byBin(10L)._3 shouldBe 1L
    byBin(10L)._5 shouldBe None // no old mass: null contribution
    // bin 1: n_old=2, n_new=1, E = 2*5/5 = 2, contrib = 1/2
    byBin(1L)._4 shouldBe 2.0
    byBin(1L)._5 shouldBe Some(0.5)
    // null values excluded entirely
    val withNull = Reconcile.numericDrift(
      Seq(Some(5L), None).toDF("v"), Seq(Some(5L)).toDF("v"),
      "v", 0L, 100L, 10)
      .as[(Long, Long, Long, Double, Option[Double])].collect()
    withNull.map(_._2).sum shouldBe 1L
  }

  test("numericDrift: identical distributions give zero chisq in every " +
      "shared bin") {
    val d = (1L to 200L).map(i => i % 97).toDF("v")
    val out = Reconcile.numericDrift(d, d, "v", 0L, 100L, 10)
      .as[(Long, Long, Long, Double, Option[Double])].collect()
    all(out.map(_._5.get)) shouldBe 0.0
  }
}

class LabelCentroidSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Similarity

  test("labelCentroidSimilarity: aligned labels ~1, orthogonal 0, " +
      "opposed -1; zero centroid yields null") {
    val emb = Seq(
      (1L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 0),     // label 0 -> +x
      (3L, Seq(0.5f, 0f), 1),                          // label 1 -> +x
      (4L, Seq(0f, 1f), 2),                            // label 2 -> +y
      (5L, Seq(-1f, 0f), 3),                           // label 3 -> -x
      (6L, Seq(0f, 0f), 4))                            // label 4 -> zero
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidSimilarity(emb, "embedding", "label")
      .as[(Int, Int, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    out((0, 1)).get shouldBe 1.0   // same direction, different magnitude
    out((0, 2)).get shouldBe 0.0   // orthogonal
    out((0, 3)).get shouldBe -1.0  // opposed
    out((0, 4)) shouldBe None      // zero centroid
    out.size shouldBe 10           // all unordered pairs of 5 labels
  }

  test("labelCentroidSimilarity: centroid cosine equals sum-vector " +
      "cosine regardless of label sizes (1/n factors cancel)") {
    // label 0: 10 copies of v; label 1: 1 copy of the same direction
    val emb = ((1L to 10L).map(i => (i, Seq(3f, 4f), 0)) :+
      (11L, Seq(6f, 8f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidSimilarity(emb, "embedding", "label")
      .as[(Int, Int, Option[Double])].collect()
    out.head._3.get shouldBe 1.0
  }
}

class VolumeAnomalySpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Stats

  test("volumeAnomalies: spike day flagged, steady days not; z matches " +
      "the exact moment formula; null ts excluded") {
    // 4 days with 10 events, one day with 50
    val ts = (0 until 4).flatMap(d => Seq.fill(10)(s"2024-01-0${d + 1}")) ++
      Seq.fill(50)("2024-01-05")
    val df = ts.toDF("ds")
      .withColumn("ts", to_timestamp($"ds")).drop("ds")
    val out = Stats.volumeAnomalies(df, "ts", 2.0)
      .as[(String, Long, Option[Double], Option[Boolean])]
      .collect().sortBy(_._1)
    out.map(_._2).toList shouldBe List(10L, 10L, 10L, 10L, 50L)
    // k=5, s1=90, s2=2900: mean 18, var (2900-1620)/4 = 320
    val z5 = (50 - 18.0) / math.sqrt(320.0)
    out.last._3.get shouldBe math.rint(z5 * 1e6) / 1e6
    out.last._4.get shouldBe false // z ~ 1.79 < 2: loud but not flagged
    val spike = Stats.volumeAnomalies(
      (Seq.fill(10)("2024-01-01") ++ Seq.fill(10)("2024-01-02") ++
        Seq.fill(10)("2024-01-03") ++ Seq.fill(10)("2024-01-04") ++
        Seq.fill(10)("2024-01-05") ++ Seq.fill(90)("2024-01-06")).toDF("ds")
        .withColumn("ts", to_timestamp($"ds")).drop("ds"), "ts", 2.0)
      .as[(String, Long, Option[Double], Option[Boolean])].collect()
      .sortBy(_._1)
    spike.last._4.get shouldBe true
    all(spike.init.map(_._4.get)) shouldBe false
  }

  test("volumeAnomalies: single day or zero variance -> null z and flag") {
    val one = Seq.fill(5)("2024-01-01").toDF("ds")
      .withColumn("ts", to_timestamp($"ds")).drop("ds")
    Stats.volumeAnomalies(one, "ts")
      .as[(String, Long, Option[Double], Option[Boolean])]
      .collect().head._3 shouldBe None
    val flat = (Seq.fill(5)("2024-01-01") ++ Seq.fill(5)("2024-01-02"))
      .toDF("ds").withColumn("ts", to_timestamp($"ds")).drop("ds")
    val f = Stats.volumeAnomalies(flat, "ts")
      .as[(String, Long, Option[Double], Option[Boolean])].collect()
    all(f.map(_._3)) shouldBe None
    all(f.map(_._4)) shouldBe None
  }
}

class FuncDependencySpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Stats

  test("functionalDependency: clean mapping flagged functional, leaky " +
      "one reports dominant share; count ties break to smallest b") {
    val df = Seq(
      ("s1", "en"), ("s1", "en"), ("s1", "en"),          // clean: s1 -> en
      ("s2", "de"), ("s2", "de"), ("s2", "fr"),          // leaky: 2/3 de
      ("s3", "es"), ("s3", "zh"))                        // tie: es wins
      .toDF("src", "lng")
    val out = Stats.functionalDependency(df, "src", "lng")
      .as[(String, Long, Long, String, Long, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    out("s1") shouldBe (("s1", 3L, 1L, "en", 3L, 1.0, true))
    out("s2") shouldBe (("s2", 3L, 2L, "de", 2L,
      math.rint(2.0 / 3 * 1e6) / 1e6, false))
    out("s3") shouldBe (("s3", 2L, 2L, "es", 1L, 0.5, false))
    // null on either side drops the row
    val n = Stats.functionalDependency(
      Seq((Some("a"), Some("x")), (Some("a"), None), (None, Some("y")))
        .toDF("src", "lng"), "src", "lng")
      .as[(String, Long, Long, String, Long, Double, Boolean)].collect()
    n.length shouldBe 1
    n.head._2 shouldBe 1L
  }
}

class LangIdMarginSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis

  test("langIdMargin: dominant language scores high, mixed text scores " +
      "its lead, tied and stopword-free text score zero") {
    val df = Seq(
      (1L, "the cat is in the hat and the dog"),   // en-only hits
      (2L, "the der cat und is ist dog von mit"),  // en 3 vs de 5
      (3L, "the der"),                             // 1-1 tie
      (4L, "xyzzy plugh"))                         // no hits anywhere
      .toDF("id", "text")
    val out = df.select($"id", TextAnalysis.langId($"text").as("l"),
        TextAnalysis.langIdMargin($"text").as("m"))
      .as[(Long, String, Int)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    out(1L)._1 shouldBe "en"
    out(1L)._2 should be >= 4
    out(2L) shouldBe (("de", 3)) // de 5 hits (der und ist von mit) vs en 2
    out(3L) shouldBe (("en", 0)) // tie: fixed order picks en, margin 0
    out(4L) shouldBe (("und", 0))
  }
}

class VolumeAnomalyPerGroupSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Stats

  test("volumeAnomaliesPerGroup: a spike one group's dip cancels " +
      "globally is still flagged within its group") {
    // feed A: steady 10/day then 90 on day 6; feed B: mirror-image so
    // the combined total is flat every day
    val a = (1 to 5).flatMap(d => Seq.fill(10)((s"2024-01-0$d", "A"))) ++
      Seq.fill(90)(("2024-01-06", "A"))
    val b = (1 to 5).flatMap(d => Seq.fill(90)((s"2024-01-0$d", "B"))) ++
      Seq.fill(10)(("2024-01-06", "B"))
    val df = (a ++ b).toDF("ds", "feed")
      .withColumn("ts", to_timestamp($"ds")).drop("ds")
    // global check sees nothing (zero variance -> nulls)
    val global = Stats.volumeAnomalies(df, "ts", 2.0)
      .as[(String, Long, Option[Double], Option[Boolean])].collect()
    all(global.map(_._4)) shouldBe None
    // per-feed check flags day 6 in BOTH feeds
    val per = Stats.volumeAnomaliesPerGroup(df, "ts", "feed", 2.0)
      .as[(String, String, Long, Option[Double], Option[Boolean])]
      .collect()
    per.filter(_._5.contains(true)).map(r => (r._1, r._2)).sorted shouldBe
      Array(("A", "20240106"), ("B", "20240106"))
    // one-day group -> nulls
    val one = Stats.volumeAnomaliesPerGroup(
      Seq(("2024-01-01", "solo")).toDF("ds", "feed")
        .withColumn("ts", to_timestamp($"ds")).drop("ds"), "ts", "feed")
      .as[(String, String, Long, Option[Double], Option[Boolean])]
      .collect()
    one.head._4 shouldBe None
  }
}

class VocabConcentrationSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis

  test("vocabConcentration: repetitive group scores high simpson/low " +
      "ttr, diverse group the reverse; single-token group nulls simpson") {
    val df = Seq(
      ("rep", "spam spam spam spam"),
      ("div", "alpha beta gamma delta"),
      ("solo", "one"))
      .toDF("src", "text")
    val out = TextAnalysis.vocabConcentration(df, "src", "text")
      .as[(String, Long, Long, Double, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    // rep: 4 tokens 1 type: ttr 0.25, simpson 4*3/(4*3) = 1
    out("rep") shouldBe (("rep", 4L, 1L, 0.25, Some(1.0)))
    // div: 4 tokens 4 types: ttr 1, simpson 0
    out("div") shouldBe (("div", 4L, 4L, 1.0, Some(0.0)))
    out("solo") shouldBe (("solo", 1L, 1L, 1.0, None))
  }
}

class VocabDiffSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis

  test("vocabDiff: appeared/vanished at the frontier only — shared " +
      "terms and sub-threshold strays stay silent") {
    val oldDf = Seq("the old king", "the old crown", "relic relic")
      .toDF("text")
    val newDf = Seq("the new king", "the new reign", "blip").toDF("text")
    val out = TextAnalysis.vocabDiff(oldDf, newDf, "text", minCount = 2)
      .as[(String, Long, Long, String)].collect().sortBy(_._1)
    // "new" appeared x2; "old"/"relic" vanished x2; "crown"/"reign"/
    // "blip" are sub-threshold; "the"/"king" shared -> silent
    out shouldBe Array(
      ("new", 0L, 2L, "appeared"),
      ("old", 2L, 0L, "vanished"),
      ("relic", 2L, 0L, "vanished"))
  }
}

class SessionStatsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sessionize

  test("sessionStats: gap splits sessions, durations floor to whole " +
      "seconds, quantiles follow the type-1 rule") {
    // user 1: events at 0s, 10s (one session, 10s), then 3600s, 3612.7s
    // (second session, floor(12.7) = 12s); user 2: lone event (0s)
    val ev = Seq(
      (1L, 1L, 0L), (1L, 2L, 10L * 1000000),
      (1L, 3L, 3600L * 1000000), (1L, 4L, 3612700000L),
      (2L, 5L, 42L))
      .toDF("uid", "eid", "tsu")
    val out = Sessionize.sessionStats(ev, "uid", $"tsu", "eid",
        gapMicros = 1800000000L, ps = Seq(0.5, 1.0))
      .as[(Double, Long, Long)].collect().sortBy(_._1)
    // durations sorted: 0, 10, 12; n=3. p=0.5 -> ceil(1.5)=2nd -> 10;
    // p=1.0 -> 3rd -> 12
    out shouldBe Array((0.5, 10L, 3L), (1.0, 12L, 3L))
  }
}

class MixtureReportSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis

  test("mixtureReport: token-mass ordering drives the cumulative, " +
      "shares are exact quotients, doc counts diverge from token mass") {
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // en: 2 docs x 1 token; zh: 1 doc x 6 tokens -> zh leads by tokens
    val docs = Seq(("en", "one"), ("en", "two"),
      ("zh", "a b c d e f")).toDF("lang", "text")
    val out = TextAnalysis.mixtureReport(docs, "lang", "text")
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    out("zh") shouldBe (("zh", 1L, 6L, r6(1.0 / 3), 0.75, 0.75))
    out("en") shouldBe (("en", 2L, 2L, r6(2.0 / 3), 0.25, 1.0))
  }
}

class ZipfSlopeSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis

  test("zipfSlope: hand-computed OLS over ranked frequencies, topK " +
      "truncation, degenerate single-term corpus nulls out") {
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // freqs: a=4, b=2, c=1 -> ranks 1, 2, 3
    val docs = Seq("a a a a", "b b c").toDF("text")
    val (n1, s1, i1) = TextAnalysis.zipfSlope(docs, "text", topK = 20)
      .as[(Long, Option[Double], Option[Double])].head()
    n1 shouldBe 3L
    // the same left-to-right fold order the operator pins (rank asc)
    val xs = Seq(1.0, 2.0, 3.0).map(math.log)
    val ys = Seq(4.0, 2.0, 1.0).map(math.log)
    val (sx, sy) = (xs.reduceLeft(_ + _), ys.reduceLeft(_ + _))
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.reduceLeft(_ + _)
    val sxx = xs.map(a => a * a).reduceLeft(_ + _)
    val k = 3.0
    val slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    s1.get shouldBe r6(slope)
    i1.get shouldBe r6((sy - slope * sx) / k)
    // topK=2 keeps ranks 1..2 only: a perfect 2-point fit through
    // (ln1, ln4), (ln2, ln2) has slope ln(2/4)/ln(2) = -1
    val (n2, s2, _) = TextAnalysis.zipfSlope(docs, "text", topK = 2)
      .as[(Long, Option[Double], Option[Double])].head()
    n2 shouldBe 2L
    s2.get shouldBe -1.0
    // single term: no fit exists
    val (n3, s3, i3) = TextAnalysis.zipfSlope(Seq("a a").toDF("text"),
      "text", topK = 20)
      .as[(Long, Option[Double], Option[Double])].head()
    (n3, s3, i3) shouldBe ((1L, None, None))
  }
}

class SessionSummarySpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.{Sessionize, Stats}

  test("sessionSummary: bounce and depth ratios from hand-built " +
      "sessions") {
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // user 1: (0, 500) one session of 2, then 5000 alone; user 2: alone
    val ev = Seq((1L, 1L, 0L), (1L, 2L, 500L), (1L, 3L, 5000L),
      (2L, 4L, 0L)).toDF("uid", "eid", "tsm")
    val out = Sessionize.sessionSummary(ev, "uid", $"tsm", "eid",
        gapMillis = 1000L)
      .as[(Long, Long, Long, Double, Double, Double)].head()
    out shouldBe ((2L, 3L, 2L, 1.5, r6(2.0 / 3), r6(4.0 / 3)))
  }

  test("distinctIntensity: exact distinct per group, nulls excluded") {
    val ev = Seq(("a", Some(1L)), ("a", Some(1L)), ("a", Some(2L)),
      ("b", Some(9L)), ("b", None)).toDF("t", "u")
    val out = Stats.distinctIntensity(ev, "t", "u")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    out("a") shouldBe (("a", 3L, 2L, 1.5))
    out("b") shouldBe (("b", 1L, 1L, 1.0))
  }
}

class CharsetProfileSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis

  test("charsetProfile: CJK text drops the ascii ratio, ratios are " +
      "corpus-weighted over summed counts, empty text contributes zero") {
    val df = Seq(
      ("en", "abc 123"),         // 7 chars: 7 ascii, 3 digit, 1 space
      ("en", ""),                // empty: 0 everywhere, still a doc
      ("zh", "你好ab"))          // 4 chars: 2 ascii
      .toDF("lang", "text")
    val out = TextAnalysis.charsetProfile(df, "lang", "text")
      .as[(String, Long, Long, Option[Double], Option[Double],
        Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    out("en") shouldBe (("en", 2L, 7L, Some(1.0),
      Some(math.rint(3.0 / 7 * 1e6) / 1e6),
      Some(math.rint(1.0 / 7 * 1e6) / 1e6)))
    out("zh") shouldBe (("zh", 1L, 4L, Some(0.5), Some(0.0), Some(0.0)))
  }
}

class KMeansSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.DataFrame

  private def centFrame(rows: (Long, Array[Float])*): DataFrame =
    rows.toSeq.toDF("cid", "ce")

  test("VectorSumAgg: exact element-wise sums, partition-order invariant, " +
      "null arrays skipped") {
    val df = Seq(
      (1, Some(Array(1L, 2L, 3L))),
      (1, Some(Array(10L, 20L, 30L))),
      (1, None),
      (2, Some(Array(-5L, 0L, 7L)))).toDF("g", "v")
    def run(parts: Int) =
      df.repartition(parts).groupBy($"g")
        .agg(graft.functions.VectorSumAgg.vectorSum($"v").as("s"))
        .select($"g", $"s").as[(Int, Seq[Long])].collect().sortBy(_._1)
    val one = run(1)
    one shouldBe Array((1, Seq(11L, 22L, 33L)), (2, Seq(-5L, 0L, 7L)))
    run(7) shouldBe one
  }

  test("kmeansStep: exact grid means per cluster, cosine tie to smaller " +
      "cid, empty centroid carried with n=0, no window/cartesian in plan") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.5f, 0.25f)),   // -> cid 10 (x-direction)
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(0.25f, 1.0f)))   // -> cid 20 (y-direction)
      .toDF("vec_id", "embedding")
    val cent = centFrame(
      10L -> Array(1.0f, 0.0f), 20L -> Array(0.0f, 1.0f),
      30L -> Array(-1.0f, 0.0f)) // captures nothing: all cosines < 0
    val out = Similarity.kmeansStep(corpus, "vec_id", "embedding", cent)
      .as[(Long, Seq[Float], Long)].collect().sortBy(_._1)
    // quarters sit exactly on the 1/1024 grid: means are exact
    out shouldBe Array(
      (10L, Seq(0.75f, 0.125f), 2L),
      (20L, Seq(0.125f, 1.0f), 2L),
      (30L, Seq(-1.0f, 0.0f), 0L))
    // [1,1] is equidistant from cid 10 and cid 20: tie goes to cid 10
    val tie = Similarity.kmeansStep(
      Seq((9L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding"), "vec_id",
      "embedding", centFrame(10L -> Array(1.0f, 0.0f),
        20L -> Array(0.0f, 1.0f)))
      .as[(Long, Seq[Float], Long)].collect().sortBy(_._1)
    tie.map(r => r._1 -> r._3) shouldBe Array(10L -> 1L, 20L -> 0L)
    val plan = Similarity.kmeansStep(corpus, "vec_id", "embedding", cent)
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should not include "CartesianProduct"
  }

  // three tight direction clusters, 20 points each, deterministic jitter
  private lazy val clustered = (0 until 60).map { i =>
    val c = i % 3
    val base = Array(0.0f, 0.0f, 0.0f); base(c) = 1.0f
    val j1 = 0.02f * ((i * 7 % 11) - 5)  // fixed pseudo-jitter, no RNG
    val j2 = 0.02f * ((i * 13 % 11) - 5)
    base((c + 1) % 3) += j1.abs; base((c + 2) % 3) += j2.abs
    (i.toLong, base)
  }.toDF("vec_id", "embedding")

  test("kmeansCentroids: recovers the three direction clusters from a " +
      "one-per-cluster warm start, is deterministic, and converges to a " +
      "kmeansStep fixed point") {
    val init = centFrame(
      0L -> Array(1.0f, 0.0f, 0.0f),
      1L -> Array(0.0f, 1.0f, 0.0f),
      2L -> Array(0.0f, 0.0f, 1.0f))
    def train() = Similarity.kmeansCentroids(clustered, "vec_id",
      "embedding", k = 3, maxIters = 10, init = Some(init))
    val out = train().as[(Long, Seq[Float], Long)].collect().sortBy(_._1)
    out.map(_._3) shouldBe Array(20L, 20L, 20L) // each cluster captured whole
    out.map(_._2.zipWithIndex.maxBy(_._1)._2) shouldBe Array(0, 1, 2)
    // determinism: training twice yields identical centroids
    train().as[(Long, Seq[Float], Long)].collect().sortBy(_._1) shouldBe out
    // convergence: the trained table is a fixed point of one more step
    val again = Similarity.kmeansStep(clustered, "vec_id", "embedding",
      centFrame(out.map(r => r._1 -> r._2.toArray): _*))
      .as[(Long, Seq[Float], Long)].collect().sortBy(_._1)
    again shouldBe out
  }

  test("ivfTopKWith trained centroids: nprobe=1 top-1 matches brute force " +
      "on the clustered corpus") {
    val cent = Similarity.kmeansCentroids(clustered, "vec_id", "embedding",
      k = 3, maxIters = 10, init = Some(centFrame(
        0L -> Array(1.0f, 0.0f, 0.0f),
        1L -> Array(0.0f, 1.0f, 0.0f),
        2L -> Array(0.0f, 0.0f, 1.0f))))
    val queries = clustered.filter($"vec_id" % 10 === 0)
    def top1(df: DataFrame) = df
      .groupBy($"query_id")
      .agg(org.apache.spark.sql.functions.min_by($"neighbor_id",
        org.apache.spark.sql.functions.struct(-$"cosine", $"neighbor_id"))
        .as("n1"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val ivf = top1(Similarity.ivfTopKWith(queries, clustered, "vec_id",
      "embedding", k = 2, centroidsDf = cent, nprobe = 1))
    val brute = top1(Similarity.bruteForceTopK(queries, clustered,
      "vec_id", "embedding", k = 2))
    ivf shouldBe brute
  }
}

class BpeSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  // Sennrich et al.'s worked example: low x5, lower x2, newest x6, widest x3
  private lazy val corpus = Seq(
    (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
    .toDF("text")

  test("applyMerge: leftmost non-overlapping fold, merged symbol does " +
      "not re-merge within the pass") {
    val df = Seq(Seq("a", "a", "a"), Seq("a", "b", "a", "b"),
      Seq("b", "a")).toDF("syms")
    df.select(Bpe.applyMerge($"syms", "a", "a").as("m")).as[Seq[String]]
      .collect().head shouldBe Seq("aa", "a")
    df.select(Bpe.applyMerge($"syms", "a", "b").as("m")).as[Seq[String]]
      .collect()(1) shouldBe Seq("ab", "ab")
    df.select(Bpe.applyMerge($"syms", "a", "b").as("m")).as[Seq[String]]
      .collect()(2) shouldBe Seq("b", "a")
  }

  test("learnMerges: recovers the textbook merge sequence es -> est -> " +
      "est</w> with lexicographic tie-breaks, deterministically") {
    def learn() = Bpe.learnMerges(corpus, "text", nMerges = 3)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    val rules = learn()
    rules shouldBe Array(
      (1, "e", "s", "es", 9L),        // ties (e,s)/(s,t)/(t,</w>) at 9
      (2, "es", "t", "est", 9L),      // tie (es,t)/(t,</w>... gone) -> est
      (3, "est", "</w>", "est</w>", 9L))
    learn() shouldBe rules
  }

  test("learnMerges stops early when every word is one symbol") {
    val tiny = Seq("ab ab").toDF("text")
    // ab -> a,b,</w>: merges (a,b)=2, then (ab,</w>)=2, then nothing
    val rules = Bpe.learnMerges(tiny, "text", nMerges = 10)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    rules.map(r => (r._1, r._4, r._5)) shouldBe Array(
      (1, "ab", 2L), (2, "ab</w>", 2L))
  }

  test("segmentVocabulary replays learned rules onto the vocabulary") {
    val merges = Bpe.learnMerges(corpus, "text", nMerges = 3)
    val seg = Bpe.segmentVocabulary(corpus, "text", merges)
      .as[(String, Long, Seq[String])].collect()
      .map(r => r._1 -> r._3).toMap
    seg("newest") shouldBe Seq("n", "e", "w", "est</w>")
    seg("widest") shouldBe Seq("w", "i", "d", "est</w>")
    seg("low") shouldBe Seq("l", "o", "w", "</w>")
    // wave-chunked replay (maxRules=1 -> three checkpointed waves) agrees
    val seg1 = Bpe.segmentVocabulary(corpus, "text", merges, maxRules = 1)
      .as[(String, Long, Seq[String])].collect().map(r => r._1 -> r._3).toMap
    seg1 shouldBe seg
  }

  test("pairCounts: partition-order invariant (exact weighted sums)") {
    val words = Bpe.wordCounts(corpus, "text")
      .select($"freq", Bpe.initialSymbols($"word").as("syms"))
    def run(parts: Int) = Bpe.pairCounts(words.repartition(parts))
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2))
    run(1) shouldBe run(5)
  }
}

class GraphRankSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  // A->B, B->A, A->C: C is dangling (appears only as a destination)
  private lazy val edges =
    Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("src", "dst")

  test("pageRankStep: mass conserved, dangling mass redistributed, " +
      "deterministic under repartitioning (exact quantized sums)") {
    val r0 = GraphRank.initRanks(edges)
    val out = GraphRank.pageRankStep(r0, edges)
      .as[(String, Double)].collect().sortBy(_._1).toSeq
    // total mass stays ~1 (quantization loses < 1e-8 per node)
    out.map(_._2).sum shouldBe 1.0 +- 1e-7
    val m = out.toMap
    // a receives b's whole out-flow; b and c each get exactly half of
    // a's, so they tie bit-for-bit
    assert(m("a") > m("b") && m("b") == m("c"))
    val rep = GraphRank.pageRankStep(r0, edges.repartition(7))
      .as[(String, Double)].collect().sortBy(_._1).toSeq
    rep shouldBe out // EXACT double equality: integer sums + same row ops
  }

  test("pageRankStep: uniform ranks are a fixed point on a ring") {
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = GraphRank.pageRankStep(GraphRank.initRanks(ring), ring)
      .as[(Long, Double)].collect()
    out.foreach(_._2 shouldBe (1.0 / 3) +- 1e-8)
  }

  test("pageRank converges to a step fixed point and keeps unit mass") {
    val ranks = GraphRank.pageRank(edges, maxIters = 60, tol = 1e-12)
    val again = GraphRank.pageRankStep(ranks, edges)
      .withColumnRenamed("rank", "r2")
    val drift = again.join(ranks, "id")
      .agg(max(abs($"rank" - $"r2"))).head.getDouble(0)
    drift should be < 1e-9
    ranks.agg(sum($"rank")).head.getDouble(0) shouldBe 1.0 +- 1e-6
  }
}

class GraphRankScaleSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("adaptive quantization grid keeps unit mass where the fixed 1e9 " +
      "grid measurably leaks (prime N so ranks cannot sit on the grid)") {
    // n MUST NOT divide the scale: a divisor keeps every rank exactly on
    // the lattice and hides all floor loss (measured: n=50000 leaks
    // nothing, n=49999 leaks ~1.7e-5 at 1e9)
    val n = 49999
    val edges = spark.range(n).select($"id".as("src"),
        pmod($"id" * 2654435761L, lit(n)).as("dst"))
      .union(spark.range(n).select($"id".as("src"),
        pmod($"id" * 40503L + 7, lit(n)).as("dst")))
    def mass(scale: Long) = GraphRank
      .pageRank(edges, maxIters = 3, tol = 0.0, scale = scale)
      .agg(sum($"rank")).head.getDouble(0)
    val adaptive = mass(0L)          // n·1e6 grid
    val fixed = mass(1000000000L)
    adaptive shouldBe 1.0 +- 1e-7    // deficit below summation noise
    (1.0 - fixed) should be > 1e-6   // the coarse grid visibly leaks
    adaptive should be > fixed
  }
}

class MediaNearDupSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("mediaNearDupPairs: tweaked-tail copy pairs with its original at " +
      "small hamming; unrelated high-entropy payloads do not pair") {
    val base = "A" * 3 + ("0123456789abcdef" * 8) // 128 entropy-ish bytes
    val other = "B" * 3 + ("fedcba9876543210" * 8)
    val media = Seq(
      (1L, base.getBytes("UTF-8")),
      (2L, (base + "::v2").getBytes("UTF-8")), // near-dup of 1
      (3L, other.getBytes("UTF-8")),
      (4L, base.getBytes("UTF-8")))            // exact dup of 1
      .toDF("id", "payload")
    val pairs = graft.operators.Multimodal
      .mediaNearDupPairs(media, "id", "payload")
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    pairs.keySet should contain((1L, 2L))
    pairs((1L, 4L)) shouldBe 0        // byte-identical -> hamming 0
    pairs.keySet.foreach { case (a, b) => Set(a, b) should not contain 3L }
  }
}

class HardNegativesSpec extends SparkSpec {
  import spark.implicits._

  test("hardNegatives: nearest DIFFERENT-label vectors only, own label " +
      "excluded even when closest, deterministic tie-break") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), "a"),
      (2L, Array(0.99f, 0.1f), "a"),  // closest to 1 but same label
      (3L, Array(0.9f, 0.4f), "b"),   // nearest wrong-label
      (4L, Array(0.0f, 1.0f), "b"),
      (5L, Array(0.5f, 0.5f), "c")).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(
        emb.filter($"vec_id" === 1), emb, "vec_id", "embedding", "label",
        k = 2)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    out.map(_._2) shouldBe Array(3L, 5L) // 2 skipped despite cos ~0.995
  }
}

class LeakageSafeSplitSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("leakageSafeSplit: every near-dup pair lands in ONE split; " +
      "singletons keep their per-id assignment") {
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain components {1..5}, {10,11}, rest singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val out = Dedup.leakageSafeSplit(docs, "doc_id", pairs,
      Seq("train" -> 0.5, "val" -> 0.5))
    val m = out.select($"doc_id", $"split").as[(Long, String)]
      .collect().toMap
    Seq(2L, 3L, 4L, 5L).foreach(m(_) shouldBe m(1L))
    m(11L) shouldBe m(10L)
    // singletons match the plain per-id hashSplit
    val naive = Sampling.hashSplit(docs, "doc_id",
      Seq("train" -> 0.5, "val" -> 0.5))
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    (12L to 200L).foreach(i => m(i) shouldBe naive(i))
    // and the naive split DOES leak on this graph (why the operator exists)
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .exists { case (a, b) => naive(a) != naive(b) } shouldBe true
  }
}

class SemDedupSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("semDedupPairs: near-identical vectors in one cluster pair up; " +
      "cross-cluster pairs are never candidates even above threshold") {
    val emb = Seq(
      (1L, Array(1.0f, 0.02f)),
      (2L, Array(1.0f, 0.03f)),    // near-dup of 1, same cluster
      (3L, Array(0.02f, 1.0f)),
      (4L, Array(0.03f, 1.0f)))    // near-dup of 3, other cluster
      .toDF("vec_id", "embedding")
    val cent = Seq((10L, Array(1.0f, 0.0f)), (20L, Array(0.0f, 1.0f)))
      .toDF("cid", "ce")
    val pairs = Dedup.semDedupPairs(emb, "vec_id", "embedding", cent,
        threshold = 0.9)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    pairs shouldBe Set((1L, 2L), (3L, 4L))
    // (1,3) etc. have cosine ~0.04 anyway, but even a high cross-cluster
    // cosine would be invisible: candidates never leave a cluster
    val plan = Dedup.semDedupPairs(emb, "vec_id", "embedding", cent, 0.9)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
  }
}

class KnnLabelSpec extends SparkSpec {
  import spark.implicits._

  test("knnLabelCheck flags the vector surrounded by the other class " +
      "and clears the well-placed ones") {
    val emb = Seq(
      (1L, Array(1.0f, 0.00f), 0),
      (2L, Array(1.0f, 0.01f), 0),
      (3L, Array(1.0f, 0.02f), 0),
      (4L, Array(1.0f, 0.03f), 1),   // mislabeled: lives among class 0
      (5L, Array(0.0f, 1.00f), 1),
      (6L, Array(0.01f, 1.0f), 1),
      (7L, Array(0.02f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelCheck(emb, "vec_id", "embedding",
        "label", k = 3)
      .as[(Long, Int, Int, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    out(4L)._3 shouldBe 0
    out(4L)._5 shouldBe true
    Seq(1L, 2L, 3L, 5L, 6L, 7L).foreach(out(_)._5 shouldBe false)
  }
}

class SubwordCountSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("subwordCounts: vocabulary lengths summed per doc, OOV falls " +
      "back to chars+1") {
    val vocab = Seq(
      ("low", Seq("l", "o", "w", "</w>")),
      ("lowest", Seq("low", "est</w>"))).toDF("word", "syms")
    val docs = Seq((1L, "low lowest low"), (2L, "oovword")).toDF("id", "t")
    val out = Bpe.subwordCounts(docs, "id", "t", vocab)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    out(1L) shouldBe ((1L, 3L, 4L + 2L + 4L))
    out(2L) shouldBe ((2L, 1L, 8L)) // "oovword" = 7 chars + 1
  }
}

class DecontaminateArtifactsSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("benchmark artifacts round-trip: prepared-from-disk equals " +
      "prepared-in-query; empty artifacts match nothing") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally unrelated words nothing shared here at all"))
      .toDF("doc_id", "text")
    val bench = Seq("beta gamma delta epsilon zeta eta").toDF("qtext")
    val dir = tmp("decon_arts") + "/a"
    Decontaminate.benchmarkArtifacts(bench, "qtext", n = 3)
      .write.parquet(dir)
    val pbDisk = Decontaminate.prepareFromArtifacts(spark.read.parquet(dir))
    val pbLive = Decontaminate.prepareBenchmark(bench, "qtext", n = 3)
    val a = Decontaminate.overlapsPrepared(docs, "doc_id", "text", pbDisk)
    val b = Decontaminate.overlapsPrepared(docs, "doc_id", "text", pbLive)
    assertSameRows(a, b)
    a.select($"id").as[Long].collect() shouldBe Array(1L)
    pbDisk.release(); pbLive.release()
    // empty artifacts: nothing can match
    val emptyDir = tmp("decon_arts_empty") + "/a"
    Decontaminate.benchmarkArtifacts(
      bench.limit(0), "qtext", n = 3).write.parquet(emptyDir)
    val pbE = Decontaminate.prepareFromArtifacts(spark.read.parquet(emptyDir))
    Decontaminate.overlapsPrepared(docs, "doc_id", "text", pbE)
      .count() shouldBe 0L
    pbE.release()
  }
}

class DatasetCardSpec extends SparkSpec {
  import spark.implicits._

  test("datasetCard: exact counts, dup fraction, and dominant share on " +
      "a hand corpus") {
    val docs = Seq(
      (1L, "a b c", "web"), (2L, "a b c", "web"),   // exact dup pair
      (3L, "d e", "web"), (4L, "f", "books")).toDF("doc_id", "text", "src")
    val m = DatasetCard.report(docs, "doc_id", "text", "src")
      .as[(String, Double)].collect().toMap
    m("n_docs") shouldBe 4.0
    m("n_tokens") shouldBe 9.0
    m("n_sources") shouldBe 2.0
    m("mean_doc_tokens") shouldBe 2.25
    m("exact_dup_fraction") shouldBe 0.25 // 3 distinct texts of 4 docs
    m("max_source_share") shouldBe 0.75
  }
}

class FarthestInitSpec extends SparkSpec {
  import spark.implicits._

  test("selectCentroidsFarthest: one seed per true direction cluster " +
      "(plain hash sampling can double up), and it trains to the full " +
      "20/20/20 recovery without a warm start") {
    val clustered = (0 until 60).map { i =>
      val c = i % 3
      val base = Array(0.0f, 0.0f, 0.0f); base(c) = 1.0f
      base((c + 1) % 3) += 0.02f * ((i * 7 % 11) - 5).abs
      base((c + 2) % 3) += 0.02f * ((i * 13 % 11) - 5).abs
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val init = Similarity.selectCentroidsFarthest(clustered, "vec_id",
      "embedding", 3)
    // each seed's dominant axis is a different true cluster
    init.as[(Int, Long, Seq[Float])].collect()
      .map(_._3.zipWithIndex.maxBy(_._1)._2).toSet shouldBe Set(0, 1, 2)
    val trained = Similarity.kmeansCentroids(clustered, "vec_id",
      "embedding", k = 3, maxIters = 10,
      init = Some(init.select($"cid", $"ce")))
    trained.select($"n").as[Long].collect().sorted shouldBe
      Array(20L, 20L, 20L)
  }
}

class RetrievalEvalSpec extends SparkSpec {
  import spark.implicits._

  test("retrievalEval: hand-computed recall and MRR, misses scored 0") {
    val results = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.8),  // truth 11 at rank 2 -> rr 0.5
      (2L, 20L, 0.9), (2L, 21L, 0.8),  // truth 20 at rank 1 -> rr 1.0
      (3L, 30L, 0.9))                  // truth 99 missing   -> rr 0
      .toDF("query_id", "neighbor_id", "cosine")
    val truth = Seq((1L, 11L), (2L, 20L), (3L, 99L))
      .toDF("query_id", "relevant_id")
    val r = Similarity.retrievalEval(results, truth)
      .as[(Long, Double, Double)].collect().head
    r._1 shouldBe 3L
    r._2 shouldBe (2.0 / 3 * 1e6).round / 1e6
    r._3 shouldBe 0.5
  }
}

class WeightedPageRankSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("weighted step: all-ones weights equal the unweighted step; a " +
      "heavier edge pulls proportionally more rank") {
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 3L), (2L, 1L, 1L))
      .toDF("src", "dst", "w")
    val r0 = GraphRank.initRanks(edges)
    val ones = GraphRank.pageRankStep(r0,
      edges.withColumn("w", lit(1L)), weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    val plain = GraphRank.pageRankStep(r0, edges)
      .as[(Long, Double)].collect().toMap
    ones.keySet.foreach(k => ones(k) shouldBe plain(k) +- 1e-12)
    val weighted = GraphRank.pageRankStep(r0, edges,
      weightCol = Some("w")).as[(Long, Double)].collect().toMap
    // node 3 takes 3/4 of node 1's out-mass instead of 1/2
    weighted(3L) should be > plain(3L)
    weighted(2L) should be < plain(2L)
    // weighted loop conserves mass too
    GraphRank.pageRank(edges, maxIters = 5, tol = 0.0,
        weightCol = Some("w"))
      .agg(sum($"rank")).head.getDouble(0) shouldBe 1.0 +- 1e-6
  }
}

class PersonalizedPageRankSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("seeded step: non-seed nodes get only propagated mass, seeds " +
      "carry the teleport, total mass stays ~1") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val out = GraphRank.pageRankStepSeeded(GraphRank.initRanks(edges),
        edges, seeds)
      .as[(Long, Double)].collect().toMap
    out.values.sum shouldBe 1.0 +- 1e-7
    // node 4 has no in-edges and is not a seed: rank exactly 0
    out(4L) shouldBe 0.0
    // the seed holds the entire teleport mass (0.15) plus its in-flow
    out(1L) should be > 0.15
  }
}

class HitsSpec extends SparkSpec {
  import spark.implicits._

  test("hitsScores: bipartite mutual reinforcement in exact integers — " +
      "the authority cited by the strong hub outranks equal in-degree") {
    // hubs 1,2 -> authorities 10,11,12; hub 1 cites all three (strong),
    // hub 2 cites only 10. After 2 rounds authority(10) > authority(11).
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L))
      .toDF("src", "dst")
    val out = GraphRank.hitsScores(edges, iters = 2)
      .select($"id", $"authority_raw", $"hub_raw")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // round 1: a=(10->2, 11->1, 12->1); h=(1->4, 2->2)
    // round 2: a=(10->6, 11->4, 12->4); h=(1->14, 2->6)
    out(10L)._2 shouldBe 6L
    out(11L)._2 shouldBe 4L
    out(1L)._3 shouldBe 14L
    out(2L)._3 shouldBe 6L
    // pure authorities have zero hub score, and vice versa
    out(10L)._3 shouldBe 0L
    out(1L)._2 shouldBe 0L
  }
}

class LabelPropagationSpec extends SparkSpec {
  import spark.implicits._

  test("propagateLabels: majority neighbor label fills nulls, own label " +
      "never overwritten, isolated unlabeled docs stay none") {
    val docs = Seq(
      (1L, Option("en")), (2L, Option("en")), (3L, Option("de")),
      (4L, Option.empty[String]),  // neighbors 1,2,3 -> majority en
      (5L, Option("de")),          // labeled: untouched even with neighbors
      (6L, Option.empty[String]))  // isolated
      .toDF("doc_id", "lang")
    val pairs = Seq((1L, 4L), (2L, 4L), (3L, 4L), (1L, 5L))
      .toDF("id_a", "id_b")
    val out = Dedup.propagateLabels(docs, "doc_id", "lang", pairs)
      .as[(Long, Option[String], String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    out(4L) shouldBe ((Some("en"), "propagated"))
    out(5L) shouldBe ((Some("de"), "own"))
    out(6L) shouldBe ((None, "none"))
    out(1L) shouldBe ((Some("en"), "own"))
  }
}

class SourceCardSpec extends SparkSpec {
  import spark.implicits._

  test("reportPerGroup: per-source exact metrics") {
    val docs = Seq(
      (1L, "a b c", "web"), (2L, "a b c", "web"), (3L, "d", "books"))
      .toDF("doc_id", "text", "src")
    val m = DatasetCard.reportPerGroup(docs, "doc_id", "text", "src")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    m(("web", "n_docs")) shouldBe 2.0
    m(("web", "n_tokens")) shouldBe 6.0
    m(("web", "exact_dup_fraction")) shouldBe 0.5
    m(("books", "n_docs")) shouldBe 1.0
    m(("books", "exact_dup_fraction")) shouldBe 0.0
  }
}

class SemanticDecontaminateSpec extends SparkSpec {
  import spark.implicits._

  // benchmark vector, a near-paraphrase (cosine ~0.999), an orthogonal
  // vector, and a moderately-similar one below threshold
  private val corpus = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.99f, 0.02f, 0.0f, 0.0f)), // near the benchmark
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)), // orthogonal
    (4L, Array(0.6f, 0.8f, 0.0f, 0.0f))) // cosine 0.6: below 0.95
    .toDF("vec_id", "embedding")
  private val bench = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("overlapsSemantic flags only vectors within the cosine threshold") {
    val hits = Decontaminate.overlapsSemantic(corpus, "vec_id",
        "embedding", bench, "vec_id", "embedding", threshold = 0.95,
        bits = 4, tables = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    hits.keySet shouldBe Set(1L, 2L)
    hits(1L) shouldBe 1.0
    hits(2L) should be > 0.99
  }

  test("decontaminateSemantic drops exactly the flagged rows") {
    Decontaminate.decontaminateSemantic(corpus, "vec_id", "embedding",
        bench, "vec_id", "embedding", threshold = 0.95,
        bits = 4, tables = 8)
      .select($"vec_id").as[Long].collect().sorted shouldBe Array(3L, 4L)
  }

  test("the LSH candidate step never degrades to an all-pairs product") {
    val plan = Decontaminate.overlapsSemantic(corpus, "vec_id",
      "embedding", bench, "vec_id", "embedding", threshold = 0.95)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include ("BroadcastHashJoin") // bench side broadcast
  }

  test("prepared benchmark is row-identical to the one-shot path") {
    val ps = Decontaminate.prepareSemantic(bench, "vec_id", "embedding",
      bits = 4, tables = 8)
    try assertSameRows(
      Decontaminate.overlapsSemanticPrepared(corpus, "vec_id",
        "embedding", ps, threshold = 0.95),
      Decontaminate.overlapsSemantic(corpus, "vec_id", "embedding",
        bench, "vec_id", "embedding", threshold = 0.95,
        bits = 4, tables = 8))
    finally ps.release()
  }

  test("streaming semantic decontamination equals the batch check") {
    val inDir = tmp("sem_in")
    corpus.repartition(2).write.mode("overwrite").parquet(inDir)
    val outDir = tmp("sem_out") + "/out"
    val streamed = graft.streaming.EventStream.runSemanticDeconOnce(
      spark, spark.read.parquet(inDir).schema, inDir, bench, "vec_id",
      "embedding", "vec_id", "embedding", threshold = 0.95, outDir,
      "sem_spec", bits = 4, tables = 8, maxFilesPerTrigger = Some(1))
    assertSameRows(streamed,
      Decontaminate.overlapsSemantic(spark.read.parquet(inDir), "vec_id",
        "embedding", bench, "vec_id", "embedding", threshold = 0.95,
        bits = 4, tables = 8))
  }
}
