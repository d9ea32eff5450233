package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.config.JsonConfig
import graft.fsops.FsOps
import graft.io.{AtomicWriter, DataFormat, LoadMode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Read → transform → atomic-write algorithm behind every
  * [[AlgoFamily.transform]] registration — most of the registry: one scan
  * of source_dir, the transform, one atomic overwrite of target_dir. A
  * transform that pins a load-bearing persisted intermediate (e.g.
  * Packing's prefix-sum frame) returns [[TransformAlgorithm.Out]] with a
  * cleanup thunk that runs AFTER the write lands: releasing earlier would
  * reopen the double execution the persist prevents.
  */
private[core] object TransformAlgorithm {
  import scala.language.implicitConversions

  /** Transform result: output frame + post-write cleanup. */
  final case class Out(frame: DataFrame, cleanup: () => Unit = () => ())

  /** Lets cleanup-free transforms stay written as `(p, df) => frame`. */
  implicit def lift(frame: DataFrame): Out = Out(frame)
}

private[core] class TransformAlgorithm(val spark: SparkSession, fsOps: FsOps,
    sourceDir: String, targetDir: String, format: DataFormat,
    outputFilesNum: Option[Int], fn: DataFrame => TransformAlgorithm.Out,
    targetPartitions: Seq[String] = Seq.empty)
    extends Algorithm {
  private var cleanups: Vector[() => Unit] = Vector.empty
  override def read(): Vector[DataFrame] =
    Vector(format.read(spark, Map.empty, None, sourceDir))
  override def transform(dfs: Vector[DataFrame]): Vector[DataFrame] =
    dfs.map { df =>
      val out = fn(df)
      cleanups :+= out.cleanup
      out.frame
    }
  override def write(dfs: Vector[DataFrame]): Vector[DataFrame] = {
    val w = new AtomicWriter(fsOps, targetPartitions, outputFilesNum)
    try dfs.foreach(df =>
      w.write(df, DataFormat.Parquet, targetDir, LoadMode.OverwriteTable))
    finally {
      cleanups.foreach(_.apply())
      cleanups = Vector.empty
    }
    dfs
  }
}

/** The algorithm behind every [[AlgoFamily.action]] registration. */
private[core] final class StagedAlgorithm(p: Params,
    in: Params => Vector[DataFrame],
    fn: (Params, Vector[DataFrame]) => Vector[DataFrame],
    out: (Params, Vector[DataFrame]) => Unit) extends Algorithm {
  val spark: SparkSession = p.spark
  override def read(): Vector[DataFrame] = in(p)
  override def transform(dfs: Vector[DataFrame]): Vector[DataFrame] =
    fn(p, dfs)
  override def write(dfs: Vector[DataFrame]): Vector[DataFrame] = {
    out(p, dfs); dfs
  }
}

/** The params a registration builds its algorithm from: the params
  * file's values (read through `values.get`, like every [[JsonConfig]])
  * plus the session and file system the algorithm runs against.
  */
final class Params(val spark: SparkSession, val fsOps: FsOps,
    values: Map[String, Any]) extends JsonConfig(values) {

  /** `file_format` / `delimiter` / `has_header`: the input format. */
  def format: DataFormat =
    DataFormat(getStringOpt("file_format").getOrElse("parquet"),
      getStringOpt("delimiter").getOrElse("|"), getBoolean("has_header"))

  def read(dir: String): DataFrame = format.read(spark, Map.empty, None, dir)

  /** The dir named by `key`, in the params' input [[format]]. */
  def input(key: String): DataFrame = read(getString(key))

  /** The parquet dir named by `key` (an artifact graft wrote itself). */
  def parquet(key: String): DataFrame = spark.read.parquet(getString(key))

  /** A schema given as a JSON object or a JSON string. */
  def schema(key: String): Option[StructType] = getOpt[Any](key).map {
    case m: Map[_, _] => DataType.fromJson(new ObjectMapper()
      .registerModule(DefaultScalaModule).writeValueAsString(m))
      .asInstanceOf[StructType]
    case s: String => DataType.fromJson(s).asInstanceOf[StructType]
  }

  /** Atomic overwrite of `target_dir`, capped at `output_files_num`. */
  def overwriteTarget(df: DataFrame): Unit =
    new AtomicWriter(fsOps, Seq.empty, getIntOpt("output_files_num"))
      .write(df, DataFormat.Parquet, getString("target_dir"),
        LoadMode.OverwriteTable)
}

/** One family's name → factory table, filled by the registrations in the
  * family object's body. A name registered twice fails when the object
  * is initialised.
  */
abstract class AlgoFamily {
  private val table =
    scala.collection.mutable.LinkedHashMap.empty[String, Params => Algorithm]

  final def algorithms: Seq[(String, Params => Algorithm)] = table.toSeq

  /** A hand-built algorithm. */
  protected final def register(name: String)(
      factory: Params => Algorithm): Unit = {
    require(!table.contains(name), s"algorithm $name is registered twice")
    table(name) = factory
  }

  protected final def alias(name: String, of: String): Unit =
    register(name)(table(of))

  /** source_dir → `fn` → atomic overwrite of target_dir. Those dirs, the
    * input format and `output_files_num` are read at create; `fn` reads
    * the rest when the transform stage runs.
    */
  protected final def transform(name: String,
      partitionBy: Seq[String] = Seq.empty)(
      fn: (Params, DataFrame) => TransformAlgorithm.Out): Unit =
    register(name)(p => new TransformAlgorithm(p.spark, p.fsOps,
      p.getString("source_dir"), p.getString("target_dir"), p.format,
      p.getIntOpt("output_files_num"), fn(p, _), partitionBy))

  /** An algorithm given stage by stage; by default it reads nothing and
    * passes frames through, so a side effect needs only `write`.
    */
  protected final def action(name: String,
      read: Params => Vector[DataFrame] = _ => Vector.empty,
      transform: (Params, Vector[DataFrame]) => Vector[DataFrame] =
        (_, dfs) => dfs,
      write: (Params, Vector[DataFrame]) => Unit): Unit =
    register(name)(new StagedAlgorithm(_, read, transform, write))
}

/** Name → algorithm dispatch, replacing the reference's string match in
  * AlgorithmFactory (reference: src/main/scala/com/adidas/analytics/AlgorithmFactory.scala:59-84).
  * The table combines the family registrations the way
  * `SparkEntry.families` combines the gate families; adding an algorithm
  * is one registration in a family file.
  */
object AlgoRegistry {
  val families: Seq[AlgoFamily] = Seq(LoadAlgos, CurationAlgos, TextAlgos,
    StatsAlgos, RetrievalAlgos, MaintenanceAlgos)

  /** Merge family tables; a name two families both register fails. */
  private[core] def combine(
      fs: Seq[AlgoFamily]): Map[String, Params => Algorithm] = {
    val all = fs.flatMap(_.algorithms)
    val twice = all.groupBy(_._1).collect { case (n, r) if r.size > 1 => n }
    require(twice.isEmpty,
      s"algorithms registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    all.toMap
  }

  private val table = combine(families)

  def create(name: String, spark: SparkSession, fsOps: FsOps,
      config: JsonConfig): Algorithm =
    table.getOrElse(name,
      throw new IllegalArgumentException(s"unknown algorithm: $name"))(
      new Params(spark, fsOps, config.values))
}
