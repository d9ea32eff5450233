package etlbench

import graft.fsops.FsOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Hadoop `FileSystem` statistics of the local (`file:`) scheme, summed
  * over every thread that touched it — driver and in-process executors.
  */
final case class FsStats(bytesRead: Long, bytesWritten: Long) {
  def -(o: FsStats): FsStats =
    FsStats(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}

object FsStats {
  def snapshot(): FsStats = {
    val all = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsStats(all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so span
  * times line up with the epoch-millisecond times Spark stamps on its
  * listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
  def ofMs(ms: Long): Long = ms * 1000000L
}

/** FsOps that records every call the engine makes through it: kind and
  * interval. Nested calls (FsOps methods calling each other) are folded
  * into the outermost one.
  */
final class CountingFsOps(conf: Configuration, sink: Tracer)
    extends FsOps(conf) {
  private val depth = new ThreadLocal[Int] { override def initialValue = 0 }

  private def rec[T](kind: String)(body: => T): T = {
    val d = depth.get
    depth.set(d + 1)
    val s = Clock.now()
    try body
    finally {
      depth.set(d)
      if (d == 0) sink.fsCall(kind, s, Clock.now())
    }
  }

  override def exists(p: String): Boolean = rec("exists")(super.exists(p))
  override def mkdirs(p: String): Unit = rec("mkdirs")(super.mkdirs(p))
  override def deleteAll(p: String): Unit =
    rec("delete")(super.deleteAll(p))
  override def ls(p: String): Seq[String] = rec("ls")(super.ls(p))
  override def listFilesRecursive(p: String): Seq[String] =
    rec("list_recursive")(super.listFilesRecursive(p))
  override def move(src: String, dest: String): Unit =
    rec("move")(super.move(src, dest))
  override def moveChildren(children: Seq[String], srcRoot: String,
      destRoot: String): Unit =
    rec("move_children")(super.moveChildren(children, srcRoot, destRoot))
  override def writeFile(p: String, content: String): Unit =
    rec("write_file")(super.writeFile(p, content))
  override def readFile(p: String): String =
    rec("read_file")(super.readFile(p))
  override def cleanupOldVersions(parent: String, prefix: String,
      retain: Int): Unit =
    rec("cleanup_versions")(super.cleanupOldVersions(parent, prefix, retain))
}

/** The traced mode's recorder. Spans, FsOps calls and listener events
  * stay in memory; [[OpTrace]]s are cut from them once the listener bus
  * has drained.
  */
object Tracer {
  final case class FsCall(kind: String, start: Long, end: Long)
  final case class Job(id: Int, start: Long, stages: Seq[Int])
  final case class TaskRec(stage: Int, runMs: Long, shuffleWrite: Long,
      input: Long, output: Long, failed: Boolean)
  /** One streaming trigger: its start and its phase durations (ms). */
  final case class Progress(at: Long, durations: Map[String, Long])

  /** Everything the trace knows about one finished op. */
  final case class OpTrace(kind: String, op: Stats.Span,
      stages: Seq[Stats.Span], jobs: Seq[Job], jobIv: Seq[Stats.Iv],
      tasks: Seq[TaskRec], stagesRun: Int, fs: Seq[FsCall],
      progress: Seq[Progress]) {
    def selfTimes: Map[String, Long] = Stats.selfTimes(op, stages, jobIv,
      fs.map(c => (c.start, c.end)))
  }
}

final class Tracer(spark: SparkSession) {
  import Tracer._
  val fsOps = new CountingFsOps(spark.sparkContext.hadoopConfiguration, this)

  private val fsCalls = mutable.ArrayBuffer.empty[FsCall]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobEnds = mutable.Map.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stagesDone = mutable.ArrayBuffer.empty[Int]
  private val progress = mutable.ArrayBuffer.empty[Progress]

  def fsCall(kind: String, s: Long, e: Long): Unit =
    fsCalls.synchronized(fsCalls += FsCall(kind, s, e))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.synchronized(jobs += Job(e.jobId, Clock.ofMs(e.time), e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.synchronized(jobEnds(e.jobId) = Clock.ofMs(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.synchronized(stagesDone += e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      tasks.synchronized(tasks += TaskRec(e.stageId,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
        !e.taskInfo.successful))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += Progress(Clock.ofMs(
        java.time.Instant.parse(e.progress.timestamp).toEpochMilli),
        e.progress.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue() }.toMap))
  }

  private var on = false
  def attach(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    on = true
  }
  def detach(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  def drain(): Unit = org.apache.spark.BusAccess.drain(spark.sparkContext)

  /** Stage spans of the op in flight (layer, interval). */
  private val stageSpans = mutable.ArrayBuffer.empty[Stats.Span]

  def stage[T](layer: String)(body: => T): T = {
    val s = Clock.now()
    try body finally stageSpans += Stats.Span(layer, s, Clock.now())
  }

  private val pending = mutable.ArrayBuffer.empty[(String, Stats.Span,
    Seq[Stats.Span])]

  def beginOp(): Unit = stageSpans.clear()
  def endOp(kind: String, op: Stats.Span): Unit = {
    pending += ((kind, op, stageSpans.toVector))
    stageSpans.clear()
  }

  /** Cut the recorded events into per-op traces (after a bus drain). A
    * job belongs to the op whose interval holds its start (1 ms slack:
    * listener times are millisecond-stamped).
    */
  def collect(): Seq[OpTrace] = {
    drain()
    val slack = 1000000L
    val out = pending.toVector.map { case (kind, op, stages) =>
      val js = jobs.synchronized(jobs.toVector).filter(j =>
        j.start >= op.start - slack && j.start <= op.end + slack)
      val iv = js.map(j => (j.start,
        jobEnds.synchronized(jobEnds.getOrElse(j.id, op.end))))
      val stageIds = js.flatMap(_.stages).toSet
      val ts = tasks.synchronized(tasks.toVector).filter(t =>
        stageIds(t.stage))
      val done = stagesDone.synchronized(stagesDone.toVector)
        .count(stageIds)
      val fs = fsCalls.synchronized(fsCalls.toVector).filter(c =>
        c.start >= op.start && c.start <= op.end)
      val pr = progress.synchronized(progress.toVector).filter(p =>
        p.at >= op.start - slack && p.at <= op.end)
      OpTrace(kind, op, stages, js, iv, ts, done, fs, pr)
    }
    pending.clear()
    Seq(jobs, tasks, stagesDone, fsCalls, progress).foreach(b =>
      b.synchronized(b.clear()))
    jobEnds.synchronized(jobEnds.clear())
    out
  }
}
