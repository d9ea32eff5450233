package etlbench

import scala.collection.mutable

/** Per-layer metrics of a traced run. Every value is a per-round figure
  * (the median over traced rounds) unless its name says otherwise; a
  * layer a workload never enters reports 0.
  */
object Layers {

  val stageKeys: Seq[String] = Seq("config.parse", "core.create",
    "core.read", "core.transform", "core.write", "core.stats")
  val selfLayers: Seq[String] = Seq("config", "core", "fsops", "catalog",
    "streaming", "spark")
  val fsKinds: Seq[String] = Seq("exists", "ls", "mkdirs", "delete", "move",
    "move_children", "list_recursive", "read_file", "write_file",
    "cleanup_versions")
  val commitKinds: Seq[String] = Seq("merge_bucketed", "merge_plain",
    "compact", "vacuum")
  val readKinds: Seq[String] = Seq("latest_agg", "as_of", "change_feed")
  /** curation steps: op kind → metric stem */
  val steps: Seq[(String, String)] = Seq("DedupArtifacts" -> "artifacts",
    "IncrementalDedup" -> "incremental", "CorpusDedup" -> "corpus_dedup",
    "Decontaminate" -> "decontaminate", "TokenBudgetMix" -> "budget_mix",
    "HashSplit" -> "hash_split")

  /** Every per-layer metric, in report order, with its unit. */
  val all: Seq[(String, String)] =
    stageKeys.map(k => s"${k}_ms" -> "ms") ++
    selfLayers.map(l => s"self.${l}_ms" -> "ms") ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.one_task_jobs" -> "count",
      "spark.job_ms" -> "ms", "spark.outside_job_ms" -> "ms",
      "spark.task_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
      "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
      "spark.task_failures" -> "count") ++
    fsKinds.map(k => s"fsops.calls.$k" -> "count") ++
    Seq("fsops.ms" -> "ms", "fs.bytes_written" -> "bytes",
      "fs.bytes_read" -> "bytes") ++
    commitKinds.map(k => s"catalog.commit_ms.$k" -> "ms") ++
    readKinds.map(k => s"catalog.read_ms.$k" -> "ms") ++
    Seq("catalog.catchup_ms" -> "ms", "catalog.bytes_per_commit" -> "bytes",
      "catalog.buckets_rewritten" -> "count",
      "catalog.files_per_version" -> "count",
      "catalog.space_amp" -> "ratio", "catalog.meta_mismatch" -> "count") ++
    steps.flatMap { case (_, s) => Seq(s"operators.${s}_ms" -> "ms",
      s"operators.${s}_task_ms" -> "ms", s"operators.${s}_kept_frac" -> "ratio") } ++
    Seq("streaming.triggers" -> "count", "streaming.trigger_ms" -> "ms",
      "streaming.add_batch_ms" -> "ms", "streaming.planning_ms" -> "ms",
      "streaming.wal_ms" -> "ms", "trace.overhead_frac" -> "ratio",
      "trace.selftime_err_frac" -> "ratio")

  private val ms = 1e6

  /** What one traced op contributes to its round's figures. */
  def perOp(t: Tracer.OpTrace): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    t.selfTimes.foreach { case (layer, ns) =>
      if (stageKeys.contains(layer)) add(s"${layer}_ms", ns / ms)
      add(s"self.${layer.takeWhile(_ != '.')}_ms", ns / ms)
    }
    val jobMs = Stats.measure(Stats.clip(t.jobIv, t.op.start, t.op.end)) / ms
    val tasksPerStage = t.tasks.groupBy(_.stage).map { case (s, v) =>
      s -> v.size }
    add("spark.jobs", t.jobs.size)
    add("spark.stages", t.stagesRun)
    add("spark.tasks", t.tasks.size)
    add("spark.one_task_jobs", t.jobs.count(j =>
      j.stages.map(tasksPerStage.getOrElse(_, 0)).sum == 1))
    add("spark.job_ms", jobMs)
    add("spark.outside_job_ms", t.op.dur / ms - jobMs)
    add("spark.task_ms", t.tasks.map(_.runMs).sum)
    add("spark.shuffle_write_bytes", t.tasks.map(_.shuffleWrite).sum)
    add("spark.input_bytes", t.tasks.map(_.input).sum)
    add("spark.output_bytes", t.tasks.map(_.output).sum)
    add("spark.task_failures", t.tasks.count(_.failed))
    t.fs.groupBy(_.kind).foreach { case (k, v) =>
      add(s"fsops.calls.$k", v.size) }
    add("fsops.ms", Stats.measure(t.fs.map(c => (c.start, c.end))) / ms)
    t.progress.foreach { p =>
      add("streaming.triggers", 1)
      add("streaming.trigger_ms", p.durations.getOrElse("triggerExecution", 0L).toDouble)
      add("streaming.add_batch_ms", p.durations.getOrElse("addBatch", 0L).toDouble)
      add("streaming.planning_ms", p.durations.getOrElse("queryPlanning", 0L).toDouble)
      add("streaming.wal_ms", p.durations.getOrElse("walCommit", 0L).toDouble)
    }
    steps.find(_._1 == t.kind).foreach { case (_, s) =>
      add(s"operators.${s}_ms", jobMs)
      add(s"operators.${s}_task_ms", t.tasks.map(_.runMs).sum)
    }
    if (commitKinds.contains(t.kind))
      add(s"catalog.commit_ms.${t.kind}", t.op.dur / ms)
    if (readKinds.contains(t.kind)) add(s"catalog.read_ms.${t.kind}", t.op.dur / ms)
    if (t.kind == "catch_up") add("catalog.catchup_ms", t.op.dur / ms)
    m.toMap
  }

  /** Largest |Σ self times − wall| / wall over all traced ops. */
  def selfTimeErr(run: Run): Double =
    run.opTraces.map { case (_, t) =>
      math.abs(t.selfTimes.values.sum - t.op.dur).toDouble /
        math.max(t.op.dur, 1L)
    }.maxOption.getOrElse(0.0)

  /** Σ over kinds of the median traced latency, against the same for
    * the untraced rounds around it in the same run, minus one.
    */
  def overhead(run: Run): Double = {
    val kinds = run.tracedSamples.keySet.intersect(run.samples.keySet).toSeq
    if (kinds.isEmpty) 0.0
    else kinds.map(k => Stats.median(run.tracedSamples(k).toSeq)).sum /
      kinds.map(k => Stats.median(run.samples(k).toSeq)).sum - 1
  }

  def metrics(run: Run, runLevel: Map[String, Double])
      : Map[String, (Double, String)] = {
    val perRound = mutable.Map.empty[Int, mutable.Map[String, Double]]
    def into(r: Int, kv: Map[String, Double]): Unit = {
      val dst = perRound.getOrElseUpdate(r, mutable.Map.empty)
      kv.foreach { case (k, v) => dst(k) = dst.getOrElse(k, 0.0) + v }
    }
    run.opTraces.foreach { case (r, t) => into(r, perOp(t)) }
    run.opExtras.foreach { case (r, _, kv) => into(r, kv) }
    val rounds = perRound.keys.toSeq.sorted
    val values = all.map { case (name, unit) =>
      val v = runLevel.get(name).orElse(
        if (rounds.isEmpty) None
        else Some(Stats.median(rounds.map(r =>
          perRound(r).getOrElse(name, 0.0))))).getOrElse(0.0)
      name -> (v, unit)
    }.toMap
    values ++ Map(
      "trace.overhead_frac" -> (overhead(run), "ratio"),
      "trace.selftime_err_frac" -> (selfTimeErr(run), "ratio"))
  }

  /** Self time per top-level layer, per traced op kind and in total
    * (ms per round, median over traced rounds), for the printed table.
    */
  def selfTable(run: Run): Map[String, Map[String, Double]] = {
    val rounds = run.opTraces.map(_._1).distinct.size.max(1)
    val byKind = run.opTraces.groupBy(_._2.kind).map { case (k, ts) =>
      val sums = mutable.Map.empty[String, Double]
      ts.foreach { case (_, t) => t.selfTimes.foreach { case (l, ns) =>
        val top = l.takeWhile(_ != '.')
        sums(top) = sums.getOrElse(top, 0.0) + ns / ms / rounds } }
      sums("wall") = ts.map(_._2.op.dur).sum / ms / rounds
      k -> sums.toMap
    }
    val total = mutable.Map.empty[String, Double]
    byKind.values.foreach(_.foreach { case (l, v) =>
      total(l) = total.getOrElse(l, 0.0) + v })
    byKind + ("ALL" -> total.toMap)
  }
}
