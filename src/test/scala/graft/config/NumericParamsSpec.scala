package graft.config

import graft.SparkSpec
import graft.core.AlgoRegistry
import graft.fsops.FsOps

class NumericParamsSpec extends SparkSpec {
  import spark.implicits._
  private def fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
  private def params(json: String) =
    JsonConfig.parse(json.stripMargin.replaceAll("\n", ""))

  test("numeric list and map accessors take any JSON number, name bad keys") {
    val c = params("""{"ps":[0.5,1],"mixed":[1,"x"],"m":{"a":1,"b":0.25},
      |"bad":{"a":"x"},"s":["0.5"]}""")
    c.getDoubles("ps") shouldBe Seq(0.5, 1.0)
    c.getDoubles("s") shouldBe Seq(0.5)
    c.getDoubles("absent") shouldBe Seq.empty
    c.getDoubles("absent", Seq(0.9)) shouldBe Seq(0.9)
    intercept[IllegalArgumentException](c.getDoubles("mixed"))
      .getMessage should include("mixed[1]")
    c.getDoubleMap("m") shouldBe Map("a" -> 1.0, "b" -> 0.25)
    c.getDoubleMap("absent", Map.empty) shouldBe Map.empty
    intercept[IllegalArgumentException](c.getDoubleMap("bad"))
      .getMessage should include("bad.a")
    intercept[NoSuchElementException](c.getDoubleMap("absent"))
      .getMessage should include("absent")
  }

  test("StepLatency runs with an integer quantile in ps") {
    val src = tmp("np_lat_src") + "/t"
    val tgt = tmp("np_lat_tgt") + "/t"
    Seq(("u1", "a", "2024-01-01 00:00:00"), ("u1", "b", "2024-01-01 00:01:00"))
      .toDF("user", "type", "ts")
      .selectExpr("user", "type", "CAST(ts AS TIMESTAMP) AS ts")
      .write.parquet(src)
    AlgoRegistry.create("StepLatency", spark, fsOps, params(
      s"""{"source_dir":"$src","target_dir":"$tgt","user_column":"user",
         |"type_column":"type","ts_column":"ts","steps":["a","b"],
         |"ps":[0.5, 1]}""")).run()
    spark.read.parquet(tgt).select($"p", $"latency_s".cast("long"))
      .as[(Double, Long)].collect().sorted shouldBe Array((0.5, 60L), (1.0, 60L))
  }

  test("NestedFlattener names a non-numeric side_flatten entry") {
    val src = tmp("np_nf_src") + "/t"
    Seq((1, "x")).toDF("id", "a").write.parquet(src)
    val algo = AlgoRegistry.create("NestedFlattener", spark, fsOps, params(
      s"""{"source_dir":"$src","target_dir":"${tmp("np_nf_tgt")}/t",
         |"side_flatten":{"a":"x"}}"""))
    intercept[IllegalArgumentException](algo.run())
      .getMessage should include("side_flatten.a")
  }
}
