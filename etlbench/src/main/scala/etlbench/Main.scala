package etlbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One workload: seeded inputs, initial state, and a round of ops. */
trait Workload {
  def name: String
  /** Generator parameters, echoed in the output. */
  def genParams: Map[String, Any]
  /** Write every input for this seed under `dir` (must be repeatable). */
  def generate(run: Run, dir: String): Unit
  /** Build the initial state from the inputs under `dir`. */
  def prepare(run: Run, dir: String): Unit
  /** One round of ops (round 0 is the warm-up). */
  def round(run: Run, r: Int): Unit
  /** Input bytes one round's ops consume (the write_amp denominator). */
  def inputBytesPerRound(run: Run): Long
  /** Final checks and run-level figures (space_amp, meta_mismatch, ...). */
  def finish(run: Run): Map[String, Double]
}

/** Entry point: `etlbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE`. Writes the result object to
  * `--out`; a human-readable summary goes to stdout.
  */
object Main {

  val workloads: Map[String, () => Workload] = Map(
    "acon_etl" -> (() => new AconEtl),
    "curation_corpus" -> (() => new CurationCorpus),
    "versioned_ingest" -> (() => new VersionedIngest))

  /** End-to-end metrics, reported with tracing off. `fold_s` is computed
    * like `write_s` and `read_s` but kept out of this set: on
    * versioned_ingest it rests on two single-sample ops and its run-to-run
    * spread exceeded the 0.25 bound; it stays in the result file.
    */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "write_s" -> "s", "read_s" -> "s",
    "driver_heap_mb" -> "MB", "write_amp" -> "ratio")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val wl = workloads.getOrElse(a("workload"), throw new
      IllegalArgumentException(s"unknown workload ${a("workload")}"))()
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.core.Session.builder("etlbench")
      .master(s"local[${graft.core.Session.cpus}]")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - t0) / 1000.0

    val run = new Run(spark, work, seed, seconds, traced)
    val result = try body(run, wl, sessionS) finally spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")),
      mapper.writeValueAsString(result))
  }

  /** Heap in use after full collections. Two, with a pause between:
    * objects Spark's ContextCleaner releases after the first (broadcasts,
    * shuffle state of collected plans) are gone after the second.
    */
  private def gcHeapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def body(run: Run, wl: Workload, sessionS: Double): Map[String, Any] = {
    // set-up: inputs, the initial state, then one warm-up round with
    // every output checked (check time is not set-up time)
    val genS = {
      val s = System.nanoTime(); wl.generate(run, run.p("gen"))
      (System.nanoTime() - s) / 1e9
    }
    val prepS = {
      val s = System.nanoTime(); wl.prepare(run, run.p("gen"))
      (System.nanoTime() - s) / 1e9
    }
    val warmS = {
      val s = System.nanoTime(); wl.round(run, 0)
      (System.nanoTime() - s) / 1e9 - run.checkSeconds
    }
    val setupS = sessionS + genS + prepS + warmS
    var heapPeak = 0.0

    run.timed = true
    val roundWalls = mutable.ArrayBuffer.empty[Double]
    var total = 0.0
    var r = 1
    // a traced run traces its even rounds and runs at least three, so
    // each traced round sits between untraced ones (for the overhead)
    while (total < run.seconds || r <= (if (run.traced) 3 else 1)) {
      run.round = r
      run.tracing = run.traced && r % 2 == 0
      run.tracer.foreach(t => if (run.tracing) t.attach() else t.detach())
      run.roundOpSeconds = 0.0
      wl.round(run, r)
      run.inputBytes += wl.inputBytesPerRound(run)
      total += run.roundOpSeconds
      roundWalls += run.roundOpSeconds
      if (run.tracing) run.tracer.get.collect().foreach(t =>
        run.opTraces += ((r, t)))
      heapPeak = math.max(heapPeak, gcHeapMb())
      r += 1
    }
    run.tracer.foreach(_.detach())
    run.round = r
    run.timed = false
    val finishExtras = wl.finish(run)

    val byClass: Map[String, Double] = OpClass.all.map { cls =>
      cls -> run.samples.collect { case ((c, _), v) if c == cls =>
        Stats.median(v.toSeq) }.sum
    }.toMap
    val checksOk = run.checks.forall(_._2)
    val correct = checksOk && run.failed == 0

    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "wall_s" -> Stats.median(roundWalls.toSeq),
      "write_s" -> byClass(OpClass.Write),
      "fold_s" -> byClass(OpClass.Fold),
      "read_s" -> byClass(OpClass.Read),
      "driver_heap_mb" -> heapPeak,
      "write_amp" -> run.bytesWritten.toDouble / math.max(run.inputBytes, 1L))

    val latency = run.samples.toSeq.map { case ((cls, kind), v) =>
      val t = Stats.tail(v.toSeq)
      Map("class" -> cls, "kind" -> kind, "n" -> v.size,
        "p50_s" -> Stats.median(v.toSeq),
        "tail" -> t.map(x => Map("pct" -> x.pct, "value_s" -> x.value,
          "samples" -> x.samples)).getOrElse("fewer than 11 samples"))
    }

    val metrics: Map[String, Map[String, Any]] =
      if (!run.traced) endToEnd.map { case (n, u) =>
        n -> Map("value" -> e2e(n), "unit" -> u) }.toMap
      else Layers.metrics(run, finishExtras).map { case (n, (v, u)) =>
          n -> Map("value" -> v, "unit" -> u) }

    Map(
      "correct" -> correct,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> metrics,
      "detail" -> Map(
        "workload" -> wl.name, "seed" -> run.seed, "traced" -> run.traced,
        "generator" -> wl.genParams,
        "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS,
          "prepare_s" -> prepS, "warmup_s" -> warmS),
        "rounds" -> roundWalls.size, "round_s" -> roundWalls,
        "end_to_end" -> e2e,
        "latency" -> latency,
        "run_level" -> finishExtras,
        "ops_failed" -> run.failed.toDouble / math.max(run.attempted, 1),
        "failures" -> run.failures,
        "checks_passed" -> run.checks.count(_._2),
        "checks_s" -> run.checkSeconds,
        "check_s_each" -> run.checkTimes.map { case (n, t) =>
          Map("check" -> n, "s" -> t) },
        "checks_failed" -> run.checks.filterNot(_._2).map(c =>
          s"${c._1}: ${c._3}"),
        "self_time_table" -> (if (run.traced) Layers.selfTable(run)
          else Map.empty)))
  }
}
