package graft.algos

import graft.core.Algorithm
import graft.fsops.FsOps
import graft.io.{AtomicWriter, DataFormat, LoadMode}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Append load: incrementally land new files into a partitioned target,
  * deriving partition values from the FILE NAME/PATH via configured regexes,
  * and persisting per-partition schema "header" files so later loads of the
  * same partition reuse the pinned schema.
  *
  * Behavior per reference: src/main/scala/com/adidas/analytics/algo/loads/AppendLoad.scala:87-309
  * (schema-grouped scans, regex partition extraction via regexp_extract over
  * input_file_name, header.json write). Differences, deliberate:
  *  - partition extraction is pure Column work (`input_file_name` +
  *    `regexp_extract`), no UDF (reference uses a path-strip UDF).
  *  - files with identical schema are read in ONE multi-path scan; the
  *    reference's per-group loop is kept (grouping by schema) but each group
  *    is a single distributed read.
  */
case class AppendLoadParams(
    sourceDir: String,
    targetDir: String,
    headerDir: String,
    format: DataFormat,
    targetSchema: StructType,
    /** regex per target partition, applied to the file path; group 1 is the
      * partition value (reference: AppendLoad.scala:230-239) */
    partitionRegexes: Seq[String],
    targetPartitions: Seq[String],
    readerMode: String = "DROPMALFORMED",
    readerOptions: Map[String, String] = Map.empty,
    /** Verify-schema path (reference: AppendLoad.scala:120-179, default on
      * for semistructured loads): groups without a header file get their
      * schema INFERRED from the data, every group's column names must be a
      * subset of the target's (clear error otherwise), and reads then use
      * the full target schema.
      */
    verifySchema: Boolean = false,
    /** OverwritePartitions (default), AppendUnionPartitions, or
      * OverwritePartitionsWithAddedColumns for schema evolution — new
      * columns append to the target while untouched partitions keep their
      * old files (reference: AppendLoadConfiguration.scala:53-56 +
      * OutputWriter.scala:151).
      */
    writeLoadMode: LoadMode = LoadMode.OverwritePartitions)

class AppendLoad(val spark: SparkSession, fsOps: FsOps, p: AppendLoadParams)
    extends Algorithm {

  private def partitionType(name: String): DataType =
    p.targetSchema.fields.find(_.name == name).map(_.dataType)
      .getOrElse(org.apache.spark.sql.types.StringType)

  private def dataSchema: StructType =
    StructType(p.targetSchema.fields.filterNot(f =>
      p.targetPartitions.contains(f.name)))

  private def headerPathFor(file: String): String = {
    val partVals = p.targetPartitions.zip(p.partitionRegexes).map {
      case (c, re) => c + "=" + re.r.findFirstMatchIn(file)
        .map(m => if (m.groupCount >= 1) m.group(1) else m.matched).getOrElse("")
    }.mkString("/")
    s"${p.headerDir}/$partVals/header.json"
  }

  /** Schema for a header group: the pinned header file when the partition
    * was loaded before; otherwise the target schema minus partition columns,
    * or — on the verify path — a schema INFERRED from the group's data
    * (reference: AppendLoad.scala:148-166).
    */
  private def schemaForGroup(headerPath: String,
      group: Seq[String]): StructType =
    if (fsOps.exists(headerPath))
      DataType.fromJson(fsOps.readFile(headerPath)).asInstanceOf[StructType]
    else if (p.verifySchema)
      p.format.read(spark, p.readerOptions, None, group: _*).schema
    else dataSchema

  /** A path with a hidden (`.`-prefixed) name BELOW source_dir; a dot
    * directory above source_dir (a `.stage/` landing area) hides nothing.
    */
  private def hiddenBelowSource(file: String): Boolean = {
    val src = new Path(p.sourceDir)
    val path = new Path(file)
    val below = path.depth() - fsOps.fs(src).makeQualified(src).depth()
    Iterator.iterate(path)(_.getParent).take(below)
      .exists(_.getName.startsWith("."))
  }

  override def read(): Vector[DataFrame] = {
    val files = fsOps.listFilesRecursive(p.sourceDir)
      .filterNot(f => f.endsWith("_SUCCESS") || hiddenBelowSource(f))
    val byHeader = files.groupBy(headerPathFor)
    val withSchemas = byHeader.toSeq.map { case (hp, group) =>
      (schemaForGroup(hp, group), group)
    }
    if (p.verifySchema) {
      // column-name diff verification (reference: AppendLoad.scala:168-179):
      // a group whose data carries columns the target does not know is a
      // config/data mismatch — fail with the offending names and files
      // rather than silently dropping or nulling them
      val targetCols = p.targetSchema.fieldNames.toVector
      withSchemas.foreach { case (schema, group) =>
        val diff = schema.fieldNames.toVector.diff(targetCols)
        if (diff.nonEmpty) throw new RuntimeException(
          s"Schema does not match the input data for some of the input " +
            s"folders: unexpected columns ${diff.mkString(", ")} in " +
            group.mkString(", "))
      }
      // verified: all files read under the full target schema (absent
      // columns become typed nulls; partition columns are overwritten from
      // the path regexes in transform())
      Vector(p.format.read(spark,
        Map("mode" -> p.readerMode) ++ p.readerOptions,
        Some(p.targetSchema), files: _*))
    } else {
      withSchemas.groupBy(_._1).toVector.map { case (schema, grouped) =>
        val paths = grouped.flatMap(_._2)
        p.format.read(spark, Map("mode" -> p.readerMode) ++ p.readerOptions,
          Some(schema), paths: _*)
      }
    }
  }

  override def transform(dfs: Vector[DataFrame]): Vector[DataFrame] =
    dfs.map { df =>
      val withParts = p.targetPartitions.zip(p.partitionRegexes)
        .foldLeft(df.withColumn("__file", input_file_name())) {
          case (d, (c, re)) =>
            d.withColumn(c,
              regexp_extract(col("__file"), re, 1).cast(partitionType(c)))
        }
      withParts.drop("__file")
    }

  override def write(dfs: Vector[DataFrame]): Vector[DataFrame] = {
    val writer = new AtomicWriter(fsOps, p.targetPartitions, None)
    dfs.foreach { df =>
      writer.write(df, DataFormat.Parquet, p.targetDir, p.writeLoadMode)
      writeHeaders(df)
    }
    dfs
  }

  /** Persist header.json per affected partition (reference: AppendLoad.scala:267-288). */
  private def writeHeaders(df: DataFrame): Unit = {
    val dataJson = StructType(df.schema.fields.filterNot(f =>
      p.targetPartitions.contains(f.name))).prettyJson
    val parts = df.select(p.targetPartitions.map(col): _*).distinct()
      .collect()
    parts.foreach { r =>
      val dir = p.targetPartitions.zipWithIndex
        .map { case (c, i) => s"$c=${r.get(i)}" }.mkString("/")
      val path = s"${p.headerDir}/$dir/header.json"
      if (!fsOps.exists(path)) fsOps.writeFile(path, dataJson)
    }
  }
}
