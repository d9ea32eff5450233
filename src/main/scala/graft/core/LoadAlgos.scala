package graft.core

import graft.algos._
import graft.config.JsonConfig
import graft.io.LoadMode

/** The reference's twelve algorithms (reference: src/main/scala/com/adidas/analytics/AlgorithmFactory.scala:66-83)
  * plus the aliases its params files use.
  */
object LoadAlgos extends AlgoFamily {
  register("FullLoad")(p => new FullLoad(p.spark, p.fsOps, FullLoadParams(
    sourceDir = p.getString("source_dir"),
    targetDir = p.getString("target_dir"), format = p.format,
    targetSchema = p.schema("target_schema"),
    partitionSourceColumn = p.getStringOpt("partition_column"),
    partitionSourceFormat =
      p.getStringOpt("partition_column_format").getOrElse("yyyyMMdd"),
    targetPartitions = p.getSeq[String]("target_partitions"),
    readerMode = p.getStringOpt("reader_mode").getOrElse("FAILFAST"),
    outputFilesNum = p.getIntOpt("output_files_num").orElse(Some(10)),
    // optional reshaping pre-tasks (reference: DataReshapingTaskConfig +
    // DataReshapingTask.scala:25-42): flatten, then transpose, from params
    flattenTask = p.getOpt[Map[String, Any]]("nested_task_properties")
      .map(new JsonConfig(_)).map(t => FlattenTask(
        charsToReplace = t.getStringOpt("chars_to_replace").getOrElse("[.:#]+"),
        replacement = t.getStringOpt("replacement_char").getOrElse("_"),
        sideFlatten = sideFlatten(t))),
    transposeTask = p.getOpt[Map[String, Any]]("transpose_task_properties")
      .map(m => TransposeTask(
        groupByColumns = m("group_by_column") match {
          case s: Seq[_] => s.map(_.toString)
          case s => Seq(s.toString)
        },
        pivotColumn = m("pivot_column").toString,
        aggregationColumn = m("aggregation_column").toString)),
    readSchema = p.schema("schema"),
    addCorruptRecordColumn = p.getBoolean("add_corrupt_record_column"))))
  private def sideFlatten(c: JsonConfig): Map[String, Int] =
    c.getDoubleMap("side_flatten", Map.empty).view.mapValues(_.toInt).toMap
  register("AppendLoad")(p => new AppendLoad(p.spark, p.fsOps,
    AppendLoadParams(sourceDir = p.getString("source_dir"),
      targetDir = p.getString("target_dir"),
      headerDir = p.getString("header_dir"), format = p.format,
      targetSchema = p.schema("target_schema").getOrElse(
        throw new IllegalArgumentException("AppendLoad needs target_schema")),
      partitionRegexes = p.getSeq[String]("regex_filename"),
      targetPartitions = p.getSeq[String]("target_partitions"),
      readerMode = p.getStringOpt("reader_mode").getOrElse("DROPMALFORMED"),
      verifySchema = p.getBoolean("verify_schema"),
      writeLoadMode = p.getStringOpt("write_load_mode").map(LoadMode(_))
        .getOrElse(LoadMode.OverwritePartitions))))
  register("DeltaLoad")(p => new DeltaLoad(p.spark, p.fsOps, DeltaLoadParams(
    activeDir = p.getString("active_records_dir"),
    deltaDir = p.getString("delta_records_file_path"), format = p.format,
    businessKey = p.getSeq[String]("business_key"),
    technicalKey = p.getSeq[String]("technical_key"),
    targetPartitions = p.getSeq[String]("target_partitions"))))
  register("DeltaMergeLoad")(p => new DeltaMergeLoad(p.spark, p.fsOps,
    DeltaMergeLoadParams(targetDir = p.getString("target_dir"),
      deltaDir = p.getString("source_dir"), format = p.format,
      businessKey = p.getSeq[String]("business_key"),
      technicalKey = p.getSeq[String]("technical_key"),
      partitionSourceColumn = p.getStringOpt("partition_column"),
      targetPartitions = p.getSeq[String]("target_partitions"),
      // init condensation defaults ON in the reference
      // (DeltaLakeLoadConfiguration); it is unrelated to repartitioning
      isInit = p.getBoolean("init_condensation", default = true) &&
        p.getBoolean("is_init_load"))))
  alias("DeltaLakeLoad", "DeltaMergeLoad")
  private def materialization(name: String)(
      scope: Params => MaterializationScope): Unit =
    register(name)(p => new Materialization(p.spark, p.fsOps,
      MaterializationParams(sourceDir = p.getString("source_dir"),
        targetBaseDir = p.getString("target_dir"), scope = scope(p),
        targetPartitions = p.getSeq[String]("target_partitions"),
        outputFilesNum = p.getIntOpt("output_files_num"),
        versionsToRetain = p.getInt("num_versions_to_retain", 1))))
  materialization("FullMaterialization")(_ => MaterializationScope.Full)
  materialization("RangeMaterialization")(p => MaterializationScope.Range(
    p.getString("partition_column"), p.getString("date_from"),
    p.getString("date_to")))
  // select_conditions: [["col=value", ...], ...] — OR of ANDs
  materialization("QueryMaterialization")(p => MaterializationScope.Query(
    p.getSeq[Seq[String]]("select_conditions").map(_.map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v: Any)
    })))
  transform("Transpose")((p, df) => Transpose(df,
    p.getSeq[String]("group_by_column"), p.getString("pivot_column"),
    p.getSeq[Any]("pivot_values"), p.getString("aggregation_column")))
  transform("NestedFlattener")((p, df) => NestedFlattener(df,
    charsToReplace = p.getStringOpt("chars_to_replace").getOrElse("[.:#]+"),
    replacement = p.getStringOpt("replacement_char").getOrElse("_"),
    sideFlatten = sideFlatten(p)))
  transform("FixedSizeStringExtractor") { (p, df) =>
    // substring_positions: ["1-12", "13-16", ...], aligned with the
    // target schema's fields (reference: FixedSizeStringExtractor.scala:30-46)
    val schema = p.schema("target_schema").getOrElse(throw new
      IllegalArgumentException("FixedSizeStringExtractor needs target_schema"))
    val specs = p.getSeq[String]("substring_positions").zip(schema.fields)
      .map { case (pos, f) =>
        val Array(a, b) = pos.split("-", 2)
        FixedSizeStringExtractor.FieldSpec(f.name, a.trim.toInt, b.trim.toInt,
          f.dataType)
      }
    FixedSizeStringExtractor(df, p.getString("source_field"), specs)
  }
  // params per reference fixture: {"steps": N, "1": sql, ...}; the write is
  // bounded like the reference's show(1000): a script's last SELECT is for
  // eyeballing, never a driver-side materialization of a whole table
  action("SQLRunner",
    transform = (p, _) => Vector(SQLRunner.run(p.spark,
      (1 to p.getInt("steps")).map(i => p.getString(i.toString)))),
    write = (_, dfs) =>
      dfs.foreach(_.limit(SQLRunner.IntermediateRowCap).collect()))
  action("GzipDecompressorBytes", write = (p, _) => new GzipDecompressor(
    p.spark.sparkContext.hadoopConfiguration, p.fsOps,
    p.getInt("thread_pool_size", 8)).run(p.getString("source_dir")))
  alias("GzipDecompressor", "GzipDecompressorBytes")
}
