package etlbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** curation_corpus: DedupArtifacts → IncrementalDedup → CorpusDedup → Decontaminate → TokenBudgetMix → HashSplit, then a
  * SQLRunner report, all through `JobRunner`. Kernel and shuffle work
  * dominate; driver fixed cost should barely show.
  *
  * The corpus is synthetic, from the seed: Zipf-like word sequences with
  * planted exact and near duplicates (5% of words replaced), an incoming
  * batch carrying its own planted duplicates of the corpus, and an eval
  * set of which a share copies a 14-word passage out of a corpus
  * document. What was planted is known, so every step's output is
  * checked against invariants and, for decontamination, against the
  * contaminated set the generator recomputes from the words themselves.
  */
final class CurationCorpus extends Workload {
  import CurationCorpus.Doc
  val name = "curation_corpus"

  val baseDocs = 4000
  val incDocs = 600
  val vocab = 3000
  val nearDupShare = 0.10
  val exactDupShare = 0.02
  val incNearDupShare = 0.20
  val incExactDupShare = 0.05
  val evalItems = 150
  val evalContaminatedShare = 0.3
  val ngram = 8
  val sources: Seq[String] = Seq("web", "books", "code", "news", "wiki")
  val budgetShare = 0.6
  val splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1,
    "test" -> 0.1)

  def genParams: Map[String, Any] = Map(
    "base_docs" -> baseDocs, "increment_docs" -> incDocs, "batches" -> 1,
    "near_dup_share" -> nearDupShare, "exact_dup_share" -> exactDupShare,
    "increment_near_dup_share" -> incNearDupShare,
    "increment_exact_dup_share" -> incExactDupShare,
    "near_dup_word_replacement" -> 0.05, "vocab" -> vocab,
    "eval_items" -> evalItems,
    "eval_contaminated_share" -> evalContaminatedShare,
    "budget_share_per_source" -> budgetShare)

  /** What the generator planted, by id. */
  private var exactCopies = Set.empty[Long]
  private var nearCopies = Set.empty[Long]
  private var incExact = Set.empty[Long]
  private var incFresh = Set.empty[Long]
  /** corpus ids sharing a word n-gram with the eval set */
  private var contaminatedIds = Set.empty[Long]
  private var budgets = Map.empty[String, Double]
  private var run: Run = _
  private var gen = ""

  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 27
    while (x > 0) { sb += ('a' + x % 26).toChar; x /= 26 }
    sb.toString
  }

  def generate(run: Run, dir: String): Unit = {
    this.run = run
    val rnd = new scala.util.Random(run.seed)
    val words = (0 until vocab).map(word)
    def draw(): String = words((vocab * math.pow(rnd.nextDouble(), 2)).toInt)
    def fresh(): Array[String] = Array.fill(40 + rnd.nextInt(100))(draw())
    def perturb(ws: Array[String]): Array[String] =
      ws.map(w => if (rnd.nextDouble() < 0.05) draw() else w)
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val exact = Set.newBuilder[Long]; val near = Set.newBuilder[Long]
    (1 to baseDocs).foreach { id =>
      val u = rnd.nextDouble()
      texts += (
        if (id > 10 && u < exactDupShare) {
          exact += id.toLong; texts(rnd.nextInt(id - 1)).clone()
        } else if (id > 10 && u < exactDupShare + nearDupShare) {
          near += id.toLong; perturb(texts(rnd.nextInt(id - 1)))
        } else fresh())
    }
    exactCopies = exact.result(); nearCopies = near.result()
    def doc(id: Long, ws: Array[String]) =
      Doc(id, ws.mkString(" "), sources(rnd.nextInt(sources.size)), ws.length)
    val corpus = texts.zipWithIndex.map { case (ws, i) => doc(i + 1L, ws) }
    val ex = Set.newBuilder[Long]; val fr = Set.newBuilder[Long]
    val inc = (1 to incDocs).map { j =>
      val id = 1000000L + j
      val u = rnd.nextDouble()
      val ws =
        if (u < incExactDupShare) { ex += id; texts(rnd.nextInt(baseDocs)).clone() }
        else if (u < incExactDupShare + incNearDupShare)
          perturb(texts(rnd.nextInt(baseDocs)))
        else { fr += id; fresh() }
      doc(id, ws)
    }
    incExact = ex.result(); incFresh = fr.result()
    val eval = (1 to evalItems).map { i =>
      val q =
        if (rnd.nextDouble() < evalContaminatedShare) {
          val ws = texts(rnd.nextInt(baseDocs))
          val at = rnd.nextInt(ws.length - 14)
          ws.slice(at, at + 14)
        } else Array.fill(12 + rnd.nextInt(8))(draw())
      (i.toLong, q)
    }
    def grams(ws: Array[String]) = ws.sliding(ngram).filter(_.length == ngram)
      .map(_.mkString(" "))
    val evalGrams = eval.flatMap(e => grams(e._2)).toSet
    contaminatedIds = texts.zipWithIndex.collect {
      case (ws, i) if grams(ws).exists(evalGrams) => i + 1L }.toSet
    budgets = corpus.groupBy(_.source).map { case (s, ds) =>
      s -> math.floor(ds.map(_.n_tokens).sum * budgetShare) }
    val spark = run.spark
    import spark.implicits._
    corpus.toSeq.toDF().repartition(4).write.parquet(s"$dir/corpus")
    inc.toDF().coalesce(1).write.parquet(s"$dir/inc")
    eval.map { case (i, q) => (i, q.mkString(" ")) }.toDF("qid", "qtext")
      .coalesce(1).write.parquet(s"$dir/eval")
  }

  private var P: Map[String, String] = Map.empty
  private def out(s: String) = run.p(s"cur/$s")

  def prepare(run: Run, dir: String): Unit = {
    gen = dir
    val ids = Map("id_column" -> "id", "text_column" -> "text")
    P = Map(
      "arts" -> run.params("DedupArtifacts", ids ++ Map(
        "source_dir" -> s"$dir/corpus", "target_dir" -> out("artifacts"))),
      "corpusDedup" -> run.params("CorpusDedup", ids ++ Map(
        "source_dir" -> s"$dir/corpus", "target_dir" -> out("dedup"),
        "jaccard_threshold" -> 0.5)),
      "decon" -> run.params("Decontaminate", ids ++ Map(
        "source_dir" -> out("dedup"), "target_dir" -> out("clean"),
        "benchmark_dir" -> s"$dir/eval", "benchmark_text_column" -> "qtext",
        "ngram_size" -> ngram, "min_overlap" -> 1)),
      "mix" -> run.params("TokenBudgetMix", Map(
        "source_dir" -> out("clean"), "target_dir" -> out("mixed"),
        "id_column" -> "id", "group_column" -> "source",
        "weight_column" -> "n_tokens",
        // one budget for every source: the smallest source's share
        "budget_per_group" -> budgets.values.min)),
      "split" -> run.params("HashSplit", Map(
        "source_dir" -> out("mixed"), "target_dir" -> out("final"),
        "id_column" -> "id", "splits" -> splits.map { case (n, w) =>
          Map("name" -> n, "weight" -> w) })),
      "report" -> run.params("SQLRunner_split_report", Map("steps" -> 2,
        "1" -> ("CREATE OR REPLACE TEMPORARY VIEW curated AS SELECT * FROM " +
          s"parquet.`${out("final")}`"),
        "2" -> (s"INSERT OVERWRITE DIRECTORY '${out("report")}' USING parquet " +
          "SELECT split, source, count(*) AS docs, sum(n_tokens) AS tokens " +
          "FROM curated GROUP BY split, source"))),
      "inc" -> run.params("IncrementalDedup", ids ++ Map(
        "source_dir" -> s"$dir/inc", "target_dir" -> out("inc_kept"),
        "existing_dir" -> s"$dir/corpus", "artifacts_dir" -> out("artifacts"),
        "threshold" -> 0.5)))
  }

  private def read(dir: String): DataFrame = run.spark.read.parquet(dir)
  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  private def step(cls: String, algo: String, key: String)(
      check: => Option[String]): Unit = {
    val ok = run.op(cls, algo, "core.run")(run.job(algo, P(key)))
    run.check(s"$algo output")(if (ok) check else Some("op failed"))
  }

  private def missing(what: String, want: Set[Long], got: Set[Long]) = {
    val m = want -- got
    if (m.isEmpty) None else Some(s"$what: ${m.size} missing, e.g. ${m.take(3)}")
  }
  private def present(what: String, banned: Set[Long], got: Set[Long]) = {
    val b = banned.intersect(got)
    if (b.isEmpty) None else Some(s"$what: ${b.size} present, e.g. ${b.take(3)}")
  }

  def round(run: Run, r: Int): Unit = {
    val corpus = read(s"$gen/corpus")
    step(OpClass.Write, "DedupArtifacts", "arts")(Digest.compare("artifacts",
      Digest.of(read(out("artifacts")).select("id", "digest")),
      Digest.of(corpus.select(col("id"), md5(col("text")).as("digest")))))
    step(OpClass.Fold, "IncrementalDedup", "inc") {
      val kept = ids(read(out("inc_kept")))
      val incoming = ids(read(s"$gen/inc"))
      present("kept ids outside the batch", kept -- incoming, kept)
        .orElse(present("kept exact duplicates", incExact, kept))
        .orElse(missing("dropped fresh docs", incFresh, kept))
    }
    step(OpClass.Write, "CorpusDedup", "corpusDedup") {
      val kept = ids(read(out("dedup")))
      val all = ids(corpus)
      present("kept ids outside the corpus", kept -- all, kept)
        .orElse(present("kept exact duplicates", exactCopies, kept))
        .orElse(missing("dropped unique docs",
          all -- exactCopies -- nearCopies, kept))
    }
    step(OpClass.Write, "Decontaminate", "decon") {
      val want = ids(read(out("dedup"))) -- contaminatedIds
      val got = ids(read(out("clean")))
      if (got == want) None
      else Some(s"kept ${got.size} docs, expected ${want.size}: " +
        s"${(got -- want).take(3)} should be gone, ${(want -- got).take(3)} kept")
    }
    step(OpClass.Write, "TokenBudgetMix", "mix") {
      val budget = budgets.values.min
      val in = read(out("clean"))
      val kept = read(out("mixed"))
      val bad = kept.groupBy("source").agg(sum("n_tokens").as("t"),
          max("n_tokens").as("m"))
        .join(in.groupBy("source").agg(sum("n_tokens").as("all")), "source")
        .filter(col("t") < least(col("all"), lit(budget)) ||
          col("t") - col("m") >= lit(budget))
        .collect()
      present("kept ids outside the input", ids(kept) -- ids(in), ids(kept))
        .orElse(if (bad.isEmpty) None
          else Some(s"budget violated for ${bad.map(_.getString(0)).mkString(",")}"))
    }
    // labels only: the budget mix keeps the lowest id-hash buckets of
    // each source, the same hash HashSplit cuts on, so the split shares
    // after a budget mix are not the configured weights
    step(OpClass.Write, "HashSplit", "split") {
      val o = read(out("final"))
      Digest.compare("split rows", Digest.of(o.drop("split")),
        Digest.of(read(out("mixed"))))
        .orElse(if (o.filter(!col("split").isin(splits.map(_._1): _*))
            .isEmpty) None else Some("rows with an unknown split label"))
    }
    step(OpClass.Read, "SQLRunner", "report")(Digest.compare("split report",
      Digest.of(read(out("report"))),
      Digest.of(read(out("final")).groupBy("split", "source")
        .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens")))))
  }

  def inputBytesPerRound(run: Run): Long =
    Seq("corpus", "inc", "eval").map(d =>
      run.du(s"$gen/$d")).sum

  /** Final-round outputs, plus each step's kept fraction. */
  def finish(run: Run): Map[String, Double] = {
    def n(dir: String) = read(dir).count().toDouble
    val corpusN = n(s"$gen/corpus")
    val dedupN = n(out("dedup")); val cleanN = n(out("clean"))
    val mixedN = n(out("mixed"))
    run.check("split report after the last round")(Digest.compare(
      "split report", Digest.of(read(out("report"))),
      Digest.of(read(out("final")).groupBy("split", "source")
        .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens")))))
    Map(
      "operators.artifacts_kept_frac" -> n(out("artifacts")) / corpusN,
      "operators.incremental_kept_frac" -> n(out("inc_kept")) / incDocs,
      "operators.corpus_dedup_kept_frac" -> dedupN / corpusN,
      "operators.decontaminate_kept_frac" -> cleanN / dedupN,
      "operators.budget_mix_kept_frac" -> mixedN / cleanN,
      "operators.hash_split_kept_frac" -> n(out("final")) / mixedN)
  }
}

object CurationCorpus {
  final case class Doc(id: Long, text: String, source: String, n_tokens: Int)
}
