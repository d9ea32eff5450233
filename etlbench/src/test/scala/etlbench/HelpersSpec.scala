package etlbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("job-interval union merges overlaps and touching ends, drops empties") {
    assert(union(Seq((5L, 7L), (1L, 3L), (2L, 4L), (7L, 9L), (10L, 10L))) ==
      Vector((1L, 4L), (5L, 9L)))
    assert(measure(Seq((0L, 10L), (2L, 3L), (9L, 12L))) == 12L)
    assert(union(Nil).isEmpty)
  }

  test("interval difference and clipping") {
    assert(minus(Seq((0L, 10L)), Seq((2L, 3L), (5L, 7L))) ==
      Vector((0L, 2L), (3L, 5L), (7L, 10L)))
    assert(minus(Seq((0L, 4L)), Seq((0L, 4L))).isEmpty)
    assert(clip(Seq((0L, 5L), (8L, 20L)), 3L, 10L) == Vector((3L, 5L), (8L, 10L)))
  }

  test("self times: children come out of the parent and everything sums to wall") {
    // op 0..100; stage read 10..40, stage write 50..90; one job 20..60
    // spans both stages and the gap; FsOps calls 35..45 (inside the job,
    // so Spark time) and 95..99 (outside every stage)
    val op = Span("core.run", 0, 100)
    val st = Seq(Span("core.read", 10, 40), Span("core.write", 50, 90))
    val t = selfTimes(op, st, jobs = Seq((20L, 60L)), fsCalls = Seq((35L, 45L),
      (95L, 99L)))
    assert(t("spark") == 40)         // 20..60
    assert(t("fsops") == 4)          // 95..99
    assert(t("core.read") == 10)     // 10..20
    assert(t("core.write") == 30)    // 60..90
    assert(t("core.run") == 16)      // 0..10, 90..95, 99..100
    assert(t.values.sum == op.dur)
  }

  test("parallel jobs count once") {
    val t = selfTimes(Span("catalog.commit", 0, 10), Nil,
      Seq((1L, 6L), (2L, 8L)), Nil)
    assert(t("spark") == 7 && t("catalog.commit") == 3)
  }

  test("median and nearest-rank percentile") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(percentile((1 to 100).map(_.toDouble), 90) == 90.0)
    assert(percentile(Seq(5.0), 99) == 5.0)
  }

  test("tail percentile keeps at least ten samples beyond its rank") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(tail(hundred) == Some(Tail(90, 90.0, 100)))
    val thirty = (1 to 30).map(_.toDouble)
    assert(tail(thirty) == Some(Tail(50, 15.0, 30)))
    assert(tail((1 to 15).map(_.toDouble)).isEmpty)
  }
}

/** Same seed → byte-for-byte the same inputs (by content digest);
  * another seed → other inputs.
  */
class GeneratorSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("etlbench-spec").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.ansi.enabled", "false").getOrCreate()
  private lazy val work =
    java.nio.file.Files.createTempDirectory("etlbench-spec").toString

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
  }

  private def digests(mk: () => Workload, seed: Long, tag: String,
      parts: Seq[String], csv: Set[String] = Set.empty): Seq[Digest.D] = {
    val run = new Run(spark, s"$work/$tag", seed, 1, traced = false)
    val dir = s"$work/$tag/gen"
    mk().generate(run, dir)
    parts.map { p =>
      val df = if (csv(p)) spark.read.option("sep", "|").csv(s"$dir/$p")
        else if (p == "append") spark.read.text(s"$dir/$p")
        else spark.read.parquet(s"$dir/$p")
      Digest.of(df)
    }
  }

  private def deterministic(name: String, mk: () => Workload,
      parts: Seq[String], csv: Set[String] = Set.empty): Unit =
    test(s"$name inputs are a function of the seed") {
      val a = digests(mk, 7, s"$name-a", parts, csv)
      val b = digests(mk, 7, s"$name-b", parts, csv)
      val c = digests(mk, 8, s"$name-c", parts, csv)
      assert(a == b)
      assert(a.zip(c).forall { case (x, y) => x != y })
    }

  deterministic("curation_corpus", () => new CurationCorpus,
    Seq("corpus", "inc", "eval"))
  deterministic("versioned_ingest", () => new VersionedIngest, Seq("base"))
  deterministic("acon_etl", () => new AconEtl,
    Seq("landing", "delta1", "delta2", "append"), csv = Set("landing"))
}
