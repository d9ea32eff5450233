package etlbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.config.JsonConfig
import graft.core.{AlgoRegistry, JobRunner}
import graft.fsops.FsOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.control.NonFatal

/** Op classes: every workload's ops fall into these three, so every
  * workload reports the same end-to-end metrics.
  */
object OpClass {
  val Write = "write" // a load, a transform step or a table commit
  val Fold = "fold"   // an incremental step applied to existing state
  val Read = "read"   // a consumer query over produced data
  val all: Seq[String] = Seq(Write, Fold, Read)
}

/** A `Map` that remembers which keys were looked up — how the benchmark
  * proves each of its params files holds only keys the algorithm reads
  * (`JsonConfig` ignores unknown keys silently).
  */
final class RecordingMap(underlying: Map[String, Any])
    extends scala.collection.immutable.AbstractMap[String, Any] {
  val accessed: mutable.Set[String] = mutable.Set.empty
  def get(key: String): Option[Any] = { accessed += key; underlying.get(key) }
  def iterator: Iterator[(String, Any)] = underlying.iterator
  def removed(key: String): Map[String, Any] = underlying.removed(key)
  def updated[V1 >: Any](key: String, value: V1): Map[String, V1] =
    underlying.updated(key, value)
}

/** State of one benchmark run: the session, the op loop's samples, the
  * output checks and (in traced mode) the tracer.
  */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Double, val traced: Boolean) {
  val plainFsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None
  /** Tracing is live only in traced rounds of a traced run. */
  var tracing = false
  def fsOps: FsOps =
    if (tracing) tracer.get.fsOps else plainFsOps

  /** false in the warm-up round and the workload's final checks: output
    * checks run and params keys are audited; true in timed rounds, where
    * latencies are kept and nothing is checked.
    */
  var timed = false

  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** latency samples (seconds) per (class, kind): timed untraced rounds,
    * and timed traced rounds (kept apart to measure the tracing overhead)
    */
  val samples = mutable.LinkedHashMap.empty[(String, String),
    mutable.ArrayBuffer[Double]]
  val tracedSamples = mutable.LinkedHashMap.empty[(String, String),
    mutable.ArrayBuffer[Double]]
  var roundOpSeconds = 0.0
  var bytesWritten = 0L
  var inputBytes = 0L
  val opTraces = mutable.ArrayBuffer.empty[(Int, Tracer.OpTrace)]
  var round = 0
  /** extra per-op numbers a workload attaches in traced rounds */
  val opExtras = mutable.ArrayBuffer.empty[(Int, String, Map[String, Double])]

  def p(sub: String): String = s"$work/$sub"

  /** Run one op: time it (untimed in warm-up), count failures, and in
    * traced rounds record its span under `layer`.
    */
  def op(cls: String, kind: String, layer: String)(body: => Unit): Boolean = {
    attempted += 1
    tracer.filter(_ => tracing).foreach(_.beginOp())
    val fs0 = FsStats.snapshot()
    val s = Clock.now()
    val ok =
      try { body; true }
      catch {
        case NonFatal(e) =>
          failed += 1
          failures += s"$kind (round $round): ${e.toString.take(400)}"
          false
      }
    val e = Clock.now()
    val d = FsStats.snapshot() - fs0
    if (tracing) {
      tracer.get.endOp(kind, Stats.Span(layer, s, e))
      opExtras += ((round, kind, Map(
        "fs.bytes_written" -> d.bytesWritten.toDouble,
        "fs.bytes_read" -> d.bytesRead.toDouble)))
    }
    if (timed) {
      val secs = (e - s) / 1e9
      (if (tracing) tracedSamples else samples)
        .getOrElseUpdate((cls, kind), mutable.ArrayBuffer.empty) += secs
      roundOpSeconds += secs
      bytesWritten += d.bytesWritten
    }
    ok
  }

  /** Record an output check; `cond` returns None when the output is right,
    * or what is wrong. Checks run outside every timed interval.
    */
  def check(name: String)(cond: => Option[String]): Unit =
    if (!timed) {
      val s = System.nanoTime()
      val r = try cond catch {
        case NonFatal(e) => Some(s"check threw ${e.toString.take(300)}")
      }
      checks += ((s"$name (round $round)", r.isEmpty, r.getOrElse("")))
      checkTimes += name -> (System.nanoTime() - s) / 1e9
    }
  val checkTimes = mutable.ArrayBuffer.empty[(String, Double)]
  def checkSeconds: Double = checkTimes.map(_._2).sum

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Write a params file; returns its path. */
  def params(name: String, values: Map[String, Any]): String = {
    val path = p(s"params/$name.json")
    plainFsOps.writeFile(path, mapper.writeValueAsString(values))
    path
  }

  /** One `JobRunner` job. Warm-up runs it through a key-recording
    * config and fails the params check if the file holds a key the
    * algorithm never read; traced rounds run the template stage by stage
    * with the counting FsOps; timed untraced rounds call
    * `JobRunner.execute` exactly as a user would.
    */
  def job(algo: String, paramsPath: String): Unit =
    if (!timed) {
      val raw = JsonConfig.fromFile(plainFsOps, paramsPath).values
      val rec = new RecordingMap(raw)
      AlgoRegistry.create(algo, spark, plainFsOps, new JsonConfig(rec)).run()
      val unknown = raw.keySet -- rec.accessed
      check(s"params keys of $algo")(
        if (unknown.isEmpty) None
        else Some(s"keys never read: ${unknown.toSeq.sorted.mkString(",")}"))
    } else if (tracing) {
      val t = tracer.get
      val cfg = t.stage("config.parse")(
        JsonConfig.fromFile(t.fsOps, paramsPath))
      val a = t.stage("core.create")(
        AlgoRegistry.create(algo, spark, t.fsOps, cfg))
      val r = t.stage("core.read")(a.read())
      val x = t.stage("core.transform")(a.transform(r))
      val w = t.stage("core.write")(a.write(x))
      t.stage("core.stats")(a.updateStatistics(w))
    } else JobRunner.execute(spark, algo, paramsPath)

  /** Bytes under a directory (0 when absent). */
  def du(path: String): Long = {
    val pp = new org.apache.hadoop.fs.Path(path)
    val f = plainFsOps.fs(pp)
    if (f.exists(pp)) f.getContentSummary(pp).getLength else 0L
  }

  def fileCount(path: String): Long = {
    val pp = new org.apache.hadoop.fs.Path(path)
    val f = plainFsOps.fs(pp)
    if (f.exists(pp)) f.getContentSummary(pp).getFileCount else 0L
  }
}

/** Order-independent content digests: row count plus the sum of a
  * 64-bit hash of every row's columns (cast to strings, so a partition
  * column read back as a string compares equal to the typed original).
  */
object Digest {
  final case class D(rows: Long, lo: Long, hi: Long) {
    override def toString = s"rows=$rows hash=$hi:$lo"
  }

  /** Sums of the hash's two 32-bit halves stay exact in a long. */
  def of(df: DataFrame, cols: Seq[String]): D = {
    val h = xxhash64(cols.sorted.map(c => coalesce(col(c).cast("string"),
      lit("\u0000null"))): _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))),
      sum(shiftrightunsigned(h, 32))).head()
    D(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def of(df: DataFrame): D = of(df, df.columns.toSeq)

  def compare(what: String, actual: D, expected: D): Option[String] =
    if (actual == expected) None
    else Some(s"$what: got $actual, expected $expected")
}
