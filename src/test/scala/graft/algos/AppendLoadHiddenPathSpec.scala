package graft.algos

import graft.SparkSpec
import graft.fsops.FsOps
import graft.io.DataFormat
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types._

class AppendLoadHiddenPathSpec extends SparkSpec {
  import spark.implicits._

  test("a landing dir under a dot-directory loads; hidden names below it " +
      "are still skipped") {
    val landing = Paths.get(tmp("al_dot"), ".stage", "landing")
    Files.createDirectories(landing.resolve(".tmp"))
    Files.writeString(landing.resolve("20180422_data.psv"), "1|a\n2|b\n")
    Files.writeString(landing.resolve(".20180422_data.psv"), "8|y\n")
    Files.writeString(landing.resolve(".tmp/20180422_data.psv"), "9|z\n")
    val target = tmp("al_dot_tgt") + "/t"
    new AppendLoad(spark, new FsOps(spark.sparkContext.hadoopConfiguration),
      AppendLoadParams(
        sourceDir = landing.toString, targetDir = target,
        headerDir = tmp("al_dot_hdr"), format = DataFormat.Dsv("|"),
        targetSchema = StructType(Seq(StructField("id", IntegerType),
          StructField("v", StringType), StructField("date_part", StringType))),
        partitionRegexes = Seq(".*\\/(\\d{8})_data\\.psv"),
        targetPartitions = Seq("date_part"))).run()
    spark.read.option("basePath", target).parquet(target)
      .select($"id", $"v", $"date_part".cast("string"))
      .as[(Int, String, String)].collect().sorted shouldBe Array(
        (1, "a", "20180422"), (2, "b", "20180422"))
  }
}
