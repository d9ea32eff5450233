package graft.tools

import graft.{Bench, SparkEntry}
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.collection.mutable

/** Where a gate's wall time goes: Spark-job time vs time outside any job
  * (driver-side planning, commits, file IO). Usage:
  *   runMain graft.tools.Profile <gate>... --sf <dir> [--sf <dir>]...
  *     [--reps <n>] [--plans <dir>]
  *
  * One session and warm-up, the ones [[graft.Bench]] uses. Per sf dir,
  * each gate runs once untimed (`cold_ms`; with `--plans` its executed
  * `explain("formatted")` goes to `<dir>/<gate>_<sf>.txt`). Then `reps`
  * rounds (default 3) run the gates interleaved, the first gate rotating
  * each round — A B, B A, … — so box drift lands on every gate alike.
  * A listener records the jobs of the timed rounds. Each gate prints one
  * JSON line: `cold_ms`, median/min/max `wall_ms` and per-rep medians of
  * `job_ms` (the UNION of job intervals — broadcast builds and AQE query
  * stages run as concurrent jobs), `outside_job_ms` (= wall_ms − job_ms),
  * `jobs`, `stages`, `tasks`, `one_task_jobs`, `shuffle_write_bytes`;
  * then its 10 longest jobs. Compare medians only (NOISE.md); for scale
  * ratios pass two `--sf` dirs.
  */
object Profile {

  final case class Job(start: Long, end: Long, stages: Int, tasks: Int,
      shuffleBytes: Long, desc: String) {
    def ms: Long = end - start
  }

  final case class Rep(wallMs: Long, jobs: Seq[Job]) {
    def jobMs: Long = unionMs(jobs.map(j => (j.start, j.end)))
  }

  final case class Result(gate: String, sf: String, coldMs: Long,
      reps: Seq[Rep]) {
    def stats: Seq[(String, Long)] = {
      def med(f: Rep => Long) = median(reps.map(f))
      val wall = med(_.wallMs)
      val job = med(_.jobMs)
      Seq("cold_ms" -> coldMs, "wall_ms" -> wall,
        "wall_min_ms" -> reps.map(_.wallMs).min,
        "wall_max_ms" -> reps.map(_.wallMs).max,
        "job_ms" -> job, "outside_job_ms" -> (wall - job),
        "jobs" -> med(_.jobs.size.toLong),
        "stages" -> med(_.jobs.map(_.stages.toLong).sum),
        "tasks" -> med(_.jobs.map(_.tasks.toLong).sum),
        "one_task_jobs" -> med(_.jobs.count(_.tasks == 1).toLong),
        "shuffle_write_bytes" -> med(_.jobs.map(_.shuffleBytes).sum))
    }
    def lines: Seq[String] =
      (s"""{"gate":"$gate","sf":"$sf","reps":${reps.size},""" +
        stats.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}") +:
        reps.flatMap(_.jobs).sortBy(-_.ms).take(10).map(j =>
          s"[profile] job $gate wall_ms=${j.ms} stages=${j.stages} " +
            s"tasks=${j.tasks} ${j.desc}")
  }

  /** Total length of the union of `[start, end]` intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Long =
    spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((total, reach), (s, e)) =>
        if (e <= reach) (total, reach)
        else (total + e - math.max(s, reach), e)
    }._1

  /** Median; an even count takes the floor of the two middles' mean. */
  def median(xs: Seq[Long]): Long = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Round `round`'s gate order: the list rotated left by `round`. */
  def order[A](gates: Seq[A], round: Int): Seq[A] = {
    val k = round % gates.size
    gates.drop(k) ++ gates.take(k)
  }

  /** Records each finished job with the stages that ran for it. */
  private final class Recorder extends SparkListener {
    private val open = mutable.Map.empty[Int, (Long, String)]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val ran = mutable.Map.empty[Int, (Int, Int, Long)]
    val done = mutable.ArrayBuffer.empty[Job]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.headOption.map(_.name))
        .getOrElse("").replace('\n', ' ').take(120)
      open(e.jobId) = (e.time, desc)
      e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = e.stageInfo
        stageJob.get(s.stageId).foreach { j =>
          val (n, t, b) = ran.getOrElse(j, (0, 0, 0L))
          val bytes = Option(s.taskMetrics)
            .fold(0L)(_.shuffleWriteMetrics.bytesWritten)
          ran(j) = (n + 1, t + s.numTasks, b + bytes)
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach { case (start, desc) =>
        val (n, t, b) = ran.remove(e.jobId).getOrElse((0, 0, 0L))
        done += Job(start, e.time, n, t, b, desc)
      }
    }
  }

  /** Profiles `gates` at one sf dir in an existing session. */
  def run(spark: SparkSession, gates: Seq[String], sfDir: String,
      reps: Int, plans: Option[String] = None): Seq[Result] = {
    require(gates.nonEmpty && reps > 0, "need a gate and reps > 0")
    val fns = gates.map(g => g -> SparkEntry.queries(g)).toMap
    val sfName = Paths.get(sfDir).getFileName.toString
    plans.foreach(d => Files.createDirectories(Paths.get(d)))
    val cold = gates.map { g =>
      val t0 = System.currentTimeMillis()
      val df = fns(g)(spark, sfDir)
      df.count()
      val ms = System.currentTimeMillis() - t0
      plans.foreach(d => Files.writeString(Paths.get(d, s"${g}_$sfName.txt"),
        df.queryExecution.explainString(FormattedMode)))
      g -> ms
    }.toMap

    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    val windows = try {
      val w = (0 until reps).flatMap(r => order(gates, r).map { g =>
        val t0 = System.currentTimeMillis()
        fns(g)(spark, sfDir).count()
        (g, t0, System.currentTimeMillis())
      })
      // the listener bus delivers in order: once this marker job's end
      // is recorded, every job of the timed rounds has been too
      sc.setJobDescription("profile-drain")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setJobDescription(null)
      def drained = rec.synchronized(rec.done.exists(_.desc == "profile-drain"))
      val deadline = System.currentTimeMillis() + 60000
      while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(10)
      require(drained, "the listener bus did not deliver the jobs in 60 s")
      w
    } finally sc.removeSparkListener(rec)

    val jobs = rec.synchronized(rec.done.toList)
    val repsOf = windows.map { case (g, t0, t1) =>
      g -> Rep(t1 - t0, jobs.filter(j => j.start >= t0 && j.start <= t1)
        .map(j => j.copy(end = math.min(j.end, t1))))
    }
    gates.map(g => Result(g, sfDir, cold(g),
      repsOf.collect { case (`g`, r) => r }))
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <gate>... --sf <dir> [--sf <dir>]... " +
      "[--reps <n>] [--plans <dir>]"
    def parse(a: List[String]): (List[(String, String)], List[String]) =
      a match {
        case f :: v :: rest if f.startsWith("--") =>
          val (fs, gs) = parse(rest); ((f -> v) :: fs, gs)
        case g :: rest =>
          require(!g.startsWith("--"), usage)
          val (fs, gs) = parse(rest); (fs, g :: gs)
        case Nil => (Nil, Nil)
      }
    val (flags, gates) = parse(args.toList)
    require(flags.forall(f => Set("--sf", "--reps", "--plans")(f._1)), usage)
    def flag(name: String) = flags.collect { case (`name`, v) => v }
    val sfs = flag("--sf")
    require(gates.nonEmpty && sfs.nonEmpty, usage)
    val reps = flag("--reps").lastOption.fold(3)(_.toInt)
    val spark = Bench.session("graft-profile")
    try {
      Bench.warmUp(spark, sfs.head)
      sfs.foreach(sf => run(spark, gates.distinct, sf, reps,
        flag("--plans").lastOption).foreach(_.lines.foreach(println)))
    } finally spark.stop()
  }
}
