package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("salted join returns exactly the unsalted join's result") {
    val probe = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, i))
      .toDF("k", "v") // key 1 is hot
    val build = Seq((1L, "one"), (2L, "two"), (500L, "x")).toDF("k", "name")
    val salted = SkewJoin.saltedJoin(probe, build, "k", saltFactor = 8)
      .select($"k", $"v", $"name").as[(Long, Int, String)].collect().sorted
    val plain = probe.join(build, Seq("k"))
      .select($"k", $"v", $"name").as[(Long, Int, String)].collect().sorted
    salted shouldBe plain
  }

  test("discriminator saltCols spread a dominant key across salts; result " +
      "unchanged") {
    // one VALUE holds 90% of the probe side — the case the full-row hash
    // covers only when rows differ somewhere; the caller names the column
    // that discriminates rows within the hot key
    val probe = (1 to 2000)
      .map(i => (if (i % 10 != 0) 7L else i.toLong, i.toLong))
      .toDF("k", "event_id")
    val build = Seq((7L, "hot"), (10L, "cold")).toDF("k", "name")
    val out = SkewJoin.saltedJoin(probe, build, "k", saltFactor = 8,
      saltCols = Seq("event_id"))
    val plain = probe.join(build, Seq("k"))
    assertSameRows(out, plain)
    // the hot key's probe rows land on >= saltFactor/2 distinct salts
    val spread = probe.filter($"k" === 7L)
      .select(SkewJoin.salt(8, Seq($"event_id")).as("s"))
      .distinct().count()
    spread should be >= 4L
  }

  test("saltCols with a dot in the name resolve as top-level columns") {
    val probe = Seq((1L, 10L), (1L, 11L), (2L, 12L))
      .toDF("k", "event.id") // dotted name, NOT a nested field
    val build = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    val out = SkewJoin.saltedJoin(probe, build, "k", saltFactor = 4,
      saltCols = Seq("event.id"))
    assertSameRows(out, probe.join(build, Seq("k")))
  }

  test("salt working column dodges a user column named __salt") {
    val probe = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "__salt")
    val build = Seq((1L, 10), (2L, 20)).toDF("k", "w")
    val out = SkewJoin.saltedJoin(probe, build, "k", saltFactor = 4)
    out.columns.sorted.toSeq shouldBe Seq("__salt", "k", "w")
    assertSameRows(out, probe.join(build, Seq("k")))
  }
}

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    spark.sql("DROP TABLE IF EXISTS bk_a")
    spark.sql("DROP TABLE IF EXISTS bk_b")
    spark.range(1000).selectExpr("id AS k", "id * 2 AS va")
      .write.bucketBy(4, "k").sortBy("k").saveAsTable("bk_a")
    spark.range(500).selectExpr("id AS k", "id * 3 AS vb")
      .write.bucketBy(4, "k").sortBy("k").saveAsTable("bk_b")
    val joined = spark.table("bk_a").join(spark.table("bk_b"), Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    // the equi-join rides the bucketing: no ShuffleExchange anywhere
    plan should not include "Exchange hashpartitioning"
    joined.count() shouldBe 500
    spark.sql("DROP TABLE bk_a"); spark.sql("DROP TABLE bk_b")
  }
}

/** Recall measurements for the ANN scale paths, on constructed data in the
  * regimes they serve. The driver's synthetic embeddings have true top-5
  * neighbors at cosine 0.27-0.45 — barely above the random-pair band —
  * where NO sublinear method holds high recall (curse of dimensionality);
  * these specs therefore construct (a) a near-duplicate corpus for sign-LSH
  * and (b) a clustered corpus for IVF, and assert the measured recall that
  * makes each path trustworthy where it's the right tool.
  */
class AnnRecallSpec extends SparkSpec {
  import spark.implicits._

  private def gauss(rnd: java.util.Random, d: Int): Array[Float] =
    Array.fill(d)(rnd.nextGaussian().toFloat)

  test("sign-LSH ANN: recall >= 0.9 in the near-duplicate regime") {
    val rnd = new java.util.Random(42)
    val base = (0L until 200L).map(i => (i, gauss(rnd, 64)))
    val dups = base.take(100).map { case (i, v) =>
      (1000L + i, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)) }
    val corpus = (base ++ dups).toDF("vec_id", "embedding")
    val queries = dups.toDF("vec_id", "embedding")
    val out = Similarity.annTopK(queries, corpus, "vec_id", "embedding", k = 1)
    // true nearest neighbor of each perturbed copy is its base vector
    val hits = out.filter($"neighbor_id" === $"query_id" - 1000).count()
    info(s"sign-LSH near-dup recall@1: ${hits / 100.0}")
    hits should be >= 90L
  }

  test("embedding near-dup: LSH path matches exact pairs, no all-pairs plan") {
    val rnd = new java.util.Random(7)
    val base = (0L until 200L).map(i => (i, gauss(rnd, 64)))
    val dups = base.take(100).map { case (i, v) =>
      (1000L + i, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)) }
    val corpus = (base ++ dups).toDF("vec_id", "embedding")
    val lsh = Dedup.embeddingNearDupPairs(corpus, "vec_id", "embedding",
      threshold = 0.9)
    // the scale-killer regression: candidate generation must be a bucketed
    // equi-join, never a BroadcastNestedLoopJoin/cartesian product
    val plan = lsh.queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    val exact = Dedup.embeddingNearDupPairs(corpus, "vec_id", "embedding",
      threshold = 0.9, exact = true)
    val lshPairs = lsh.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exactPairs = exact.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    info(s"near-dup pairs: exact=${exactPairs.size} lsh=${lshPairs.size}")
    // precision 1.0 by construction (exact cosine verify on candidates)
    lshPairs.subsetOf(exactPairs) shouldBe true
    lshPairs.size.toDouble should be >= 0.9 * exactPairs.size
  }

  test("IVF ANN: recall >= 0.8 on clustered data at a fraction of the scan") {
    val rnd = new java.util.Random(11)
    val centers = Array.fill(10)(gauss(rnd, 64))
    val corpus = (0L until 370L).map { i =>
      val c = centers((i % 10).toInt)
      (i, c.map(x => x + 0.15f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 12 === 0)
    val bf = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding",
      k = 5).select("query_id", "neighbor_id")
    val ivf = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding",
      k = 5, centroids = 12).select("query_id", "neighbor_id")
    val recall = ivf.intersect(bf).count().toDouble / bf.count()
    info(s"IVF clustered recall@5: $recall")
    recall should be >= 0.8
  }

  test("IVF centroid set is a fixed count, independent of corpus size") {
    // the round-2 id%mod selection grew the broadcast with the corpus —
    // the bound must hold as the corpus scales, not just at test size
    val small = (0L until 300L).map(i => (i, gauss(new java.util.Random(i), 8)))
      .toDF("vec_id", "embedding")
    val big = (0L until 3000L).map(i => (i, gauss(new java.util.Random(i), 8)))
      .toDF("vec_id", "embedding")
    Similarity.selectCentroids(small, "vec_id", "embedding", 64)
      .count() shouldBe 64
    Similarity.selectCentroids(big, "vec_id", "embedding", 64)
      .count() shouldBe 64
    // and the selection is a prefix property: scaling the corpus 10x does
    // not discard the guarantee that exactly C vectors are broadcast
    Similarity.selectCentroids(big, "vec_id", "embedding", 7000)
      .count() shouldBe 3000L
  }
}

class MultimodalPartitionSpec extends SparkSpec {
  import spark.implicits._
  import Multimodal._

  test("partition-batched decode streams rows with per-partition init") {
    val media = (1L to 100L)
      .map(i => MediaRow(i, s"payload-$i".getBytes("UTF-8")))
      .toDS().repartition(4)
    val out = decodePartitions(media)
    out.rdd.getNumPartitions shouldBe 4
    val rows = out.collect().sortBy(_.id)
    rows.length shouldBe 100
    rows.head.n_bytes shouldBe "payload-1".length
    all(rows.map(_.width)) should (be >= 1 and be <= 1920)
    // deterministic across evaluations
    out.collect().sortBy(_.id) shouldBe rows
  }

  test("Decoder is a seam: a custom codec drops in, stub untouched") {
    // a 'codec' that decodes dimensions parsed from the payload text —
    // stands in for a real JNI decoder; only the trait impl changes
    object ParsingDecoder extends Multimodal.Decoder {
      override def decode(id: Long, payload: Array[Byte]): DecodedRow = {
        val s = new String(payload, "UTF-8").split("x")
        DecodedRow(id, payload.length, s(0).toInt, s(1).toInt)
      }
    }
    val media = Seq(MediaRow(1L, "640x480".getBytes("UTF-8")),
      MediaRow(2L, "1920x1080".getBytes("UTF-8"))).toDS().repartition(2)
    val rows = decodePartitions(media, ParsingDecoder).collect().sortBy(_.id)
    rows.map(r => (r.id, r.width, r.height)) shouldBe
      Array((1L, 640, 480), (2L, 1920, 1080))
    // the stub path is unchanged by the seam
    decodePartitions(media).count() shouldBe 2
  }
}

/** What must not change when the corpus grows: each operator's output is
  * either fixed-size or exactly proportional to the input. The corpus is
  * the sf0.001 tables replicated 3x with disjoint ids and a per-replica
  * text prefix, so replicas are near- but not exact duplicates.
  */
class ReplicationInvariantSpec extends SparkSpec {
  import graft.core.Tables
  import org.apache.spark.sql.DataFrame

  private val sf = "/root/testdata/sf0.001"
  private val factor = 3

  /** `factor` copies of `df`: copy r shifts each id column past the
    * earlier copies and prefixes the `text` column with a replica marker.
    */
  private def replicate(df: DataFrame, ids: Seq[String],
      text: String = ""): DataFrame = {
    val stride = ids.map(c => c -> (df.agg(max(col(c))).head.getLong(0) + 1))
      .toMap
    (0 until factor).map { r =>
      df.select(df.columns.toSeq.map {
        case c if stride.contains(c) => (col(c) + lit(r * stride(c))).as(c)
        case c if c == text => concat(lit(s"replica$r marker "), col(c)).as(c)
        case c => col(c)
      }: _*)
    }.reduce(_ unionByName _)
  }

  test("replicated 3x: fixed-size reports keep their size, per-row " +
      "outputs scale exactly, chunks scale within one per doc") {
    val docs1 = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val docsN = replicate(docs1, Seq("doc_id"), "text").cache()
    val emb1 = Tables(spark, sf, "embeddings")
    val embN = replicate(emb1, Seq("vec_id"))
    val ev1 = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val evN = replicate(ev1, Seq("event_id", "user_id"))
    try {
      def both(f: DataFrame => Long, one: DataFrame, many: DataFrame) =
        (f(one), f(many))

      val (o1, oN) = both(Similarity.embeddingOutliers(_, "vec_id",
        "embedding", "label", k = 5).count(), emb1, embN)
      oN shouldBe o1
      val model = Classify.prepareModel(Classify.naiveBayesModel(
        docs1.filter(col("doc_id") % 5 === 0), "text", "lang", 30))
      val target = docs1.filter(col("doc_id") % 25 === 0)
      Seq[DataFrame => Long](
        Classify.scoreWithModel(_, model, "doc_id", "text").count(),
        Dedup.repeatedSpans(_, "doc_id", "text", 4).count(),
        Dsir.importanceWeights(_, target, "doc_id", "text", 512).count()
      ).foreach { f =>
        val (n1, nN) = both(f, docs1, docsN)
        n1 should be > 0L
        nN shouldBe factor * n1
      }
      // the 2-token prefix can push a doc across one stride boundary
      val (c1, cN) = both(Packing.chunkText(_, "doc_id", "text", 32, 24)
        .count(), docs1, docsN)
      val nDocs = docs1.count()
      cN should (be >= factor * c1 and be <= factor * (c1 + nDocs))
      both(Stats.mutualInformation(_, "lang", "source").count(),
        docs1, docsN) shouldBe ((1L, 1L))
      val (t1, tN) = both(Funnel.transitionMatrix(_, "user_id",
        "event_type", "ts", "event_id").count(), ev1, evN)
      tN should be <= t1 // bounded by the event-type domain squared
      both(TextAnalysis.blocklistReport(_, "doc_id", "text",
        Seq("slow", "big", "vector", "zzz_unused")).count(),
        docs1, docsN) shouldBe ((4L, 4L))
      val (b1, bN) = both(TextAnalysis.bigramLogProbScore(_, "doc_id",
        "text", modelSize = 500, historySize = 64).count(), docs1, docsN)
      bN should be <= factor * b1
    } finally docsN.unpersist()
  }
}
