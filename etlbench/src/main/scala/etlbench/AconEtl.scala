package etlbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** acon_etl: the reference surface. Params-file-only `JobRunner` jobs —
  * FullLoad (DSV → year/month partitions), two CDC DeltaLoads, an
  * AppendLoad, the three Materializations and two SQLRunner reports —
  * over small tables, so per-job fixed cost dominates.
  *
  * Every row is a pure function of (seed, order_id, version), and the
  * CDC deltas are chosen by seeded rules, so the expected table after
  * each load is recomputed in plain Spark from the rules alone — never
  * from anything the engine wrote.
  */
final class AconEtl extends Workload {
  val name = "acon_etl"

  val baseRows = 60000
  val insertsPerDelta = 900
  val months = 24
  val appendRows = 2000
  val appendDates: Seq[String] = Seq("20241203", "20241117", "20240925")
  /** per-10,000 update and delete rates: recent months (the last three)
    * take most of the change; month 0 gets deletes only, in delta 1 —
    * a deletion-only partition.
    */
  val updRecent = 600; val updOld = 50
  val delRecent = 150; val delOld = 20; val delMonth0 = 300
  val supersededShare = 10 // one update in N also carries an older record

  def genParams: Map[String, Any] = Map(
    "base_rows" -> baseRows, "batches" -> 2,
    "inserts_per_delta" -> insertsPerDelta,
    "delta_fraction_approx" -> 0.023,
    "delete_share_of_changes_approx" -> 0.2,
    "recency_skew" -> (s"last 3 of $months months: update " +
      s"${updRecent / 100.0}% / delete ${delRecent / 100.0}% vs " +
      s"${updOld / 100.0}% / ${delOld / 100.0}%"),
    "deletion_only_partition" -> "2023-01 in delta 1",
    "superseded_record_share" -> (1.0 / supersededShare),
    "append_files" -> appendDates.size, "append_rows_per_file" -> appendRows)

  private var seed = 0L
  private var gen = ""
  private var run: Run = _

  private def h(id: Column, salt: Any*): Column =
    xxhash64((lit(seed) +: id +: salt.map(lit)): _*)
  private def pm(c: Column, n: Int): Column = pmod(c, lit(n))

  private def monthIdx(id: Column): Column =
    when(id > baseRows, lit(months - 2) + pm(h(id, 7), 2))
      .otherwise(pm(h(id, 2), months))

  private def orderDate(id: Column): Column = {
    val mi = monthIdx(id)
    format_string("%04d%02d%02d", lit(2023) + floor(mi / 12),
      pmod(mi, lit(12)) + 1, pm(h(id, 3), 28) + 1)
  }

  val dataCols: Seq[String] = Seq("order_id", "customer_id", "status",
    "total_cents", "order_date", "priority", "comment")
  val tableCols: Seq[String] = dataCols ++ Seq("year", "month")

  /** The row of `order_id` at `ver` (columns `id`, `ver` in, table out). */
  private def rows(ids: DataFrame, date: Option[Column] = None): DataFrame = {
    val id = col("id"); val ver = col("ver")
    ids.select(
      id.as("order_id"),
      (pm(h(id, 1), 5000) + 1).as("customer_id"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (pm(xxhash64(lit(seed), id, ver, lit(4)), 3) + 1).cast("int"))
        .as("status"),
      (pm(xxhash64(lit(seed), id, ver, lit(5)), 1000000) + 100)
        .as("total_cents"),
      date.getOrElse(orderDate(id)).as("order_date"),
      concat(lit("P"), pm(h(id, 6), 5)).as("priority"),
      concat(lit("note "), substring(sha2(concat_ws(":", lit(seed), id, ver),
        256), 1, 40)).as("comment"))
      .withColumn("year", substring(col("order_date"), 1, 4).cast("int"))
      .withColumn("month", substring(col("order_date"), 5, 2).cast("int"))
  }

  private def u(id: Column, k: Int): Column = pm(h(id, 100 + k), 10000)
  private def recent(id: Column): Column = monthIdx(id) >= months - 3
  private def month0(id: Column): Column = monthIdx(id) === 0
  private def updRate(id: Column): Column =
    when(month0(id), 0).when(recent(id), updRecent).otherwise(updOld)
  private def delRate(id: Column, k: Int): Column =
    when(month0(id), if (k == 1) delMonth0 else 0)
      .when(recent(id), delRecent).otherwise(delOld)
  private def updatedIn(id: Column, k: Int): Column =
    u(id, k) < updRate(id) && !deletedBefore(id, k)
  private def deletedIn(id: Column, k: Int): Column =
    u(id, k) >= updRate(id) && u(id, k) < updRate(id) + delRate(id, k) &&
      !deletedBefore(id, k)
  private def deletedBefore(id: Column, k: Int): Column =
    (1 until k).map(j => deletedIn(id, j)).foldLeft(lit(false))(_ || _)

  private def baseIds: DataFrame =
    run.spark.range(1, baseRows + 1).toDF("id")
  private def insertIds(k: Int): DataFrame =
    run.spark.range(baseRows + (k - 1) * insertsPerDelta + 1,
      baseRows + k * insertsPerDelta + 1).toDF("id")

  /** The expected table after `k` deltas, from the rules alone. */
  def expected(k: Int): DataFrame = {
    val id = col("id")
    val alive = (1 to k).map(j => !deletedIn(id, j)).foldLeft(lit(true))(_ && _)
    val ver = (1 to k).foldLeft(lit(0L)) { (acc, j) =>
      when(updatedIn(id, j), lit(j.toLong)).otherwise(acc) }
    val base = baseIds.filter(alive).withColumn("ver", ver)
    val ins = (1 to k).map(j => insertIds(j).withColumn("ver", lit(j.toLong)))
    rows(ins.foldLeft(base)(_ unionByName _))
  }

  /** Delta `k`: updates (some with an older superseded record), deletes
    * and inserts, each tagged with a record mode and a sequence number.
    */
  def delta(k: Int): DataFrame = {
    val id = col("id")
    val verBefore = (1 until k).foldLeft(lit(0L)) { (acc, j) =>
      when(updatedIn(id, j), lit(j.toLong)).otherwise(acc) }
    val upd = rows(baseIds.filter(updatedIn(id, k))
      .withColumn("ver", lit(k.toLong)))
      .withColumn("recordmode", lit("U")).withColumn("seq", lit(2))
    val old = rows(baseIds.filter(updatedIn(id, k) &&
        pm(h(id, 200 + k), supersededShare) === 0)
      .withColumn("ver", lit(k + 100L)))
      .withColumn("recordmode", lit("U")).withColumn("seq", lit(1))
    val del = rows(baseIds.filter(deletedIn(id, k)).withColumn("ver", verBefore))
      .withColumn("recordmode", lit("D")).withColumn("seq", lit(2))
    val ins = rows(insertIds(k).withColumn("ver", lit(k.toLong)))
      .withColumn("recordmode", lit("N")).withColumn("seq", lit(2))
    upd.unionByName(old).unionByName(del).unionByName(ins)
  }

  private def appendFrame: DataFrame =
    appendDates.zipWithIndex.map { case (d, f) =>
      rows(run.spark.range(5000000L + f * 10000L + 1,
          5000000L + f * 10000L + appendRows + 1).toDF("id")
        .withColumn("ver", lit(0L)), Some(lit(d)))
    }.reduce(_ unionByName _)

  def generate(run: Run, dir: String): Unit = {
    this.run = run; seed = run.seed
    expected(0).select(dataCols.map(col): _*).repartition(4)
      .write.option("sep", "|").csv(s"$dir/landing")
    (1 to 2).foreach(k => delta(k).coalesce(1).write.parquet(s"$dir/delta$k"))
    // append drops are named by date: the partition comes from the name
    val fs = run.plainFsOps
    appendFrame.select(col("order_date"),
        concat_ws("|", dataCols.map(col): _*)).collect()
      .groupBy(_.getString(0)).foreach { case (d, rs) =>
        fs.writeFile(s"$dir/append/orders_$d.dsv",
          rs.map(_.getString(1)).sorted.mkString("\n") + "\n")
      }
  }

  private def schemaJson(withParts: Boolean): Map[String, Any] = {
    def f(n: String, t: String) = Map("name" -> n, "type" -> t,
      "nullable" -> true, "metadata" -> Map.empty)
    val fields = Seq(f("order_id", "long"), f("customer_id", "long"),
      f("status", "string"), f("total_cents", "long"),
      f("order_date", "string"), f("priority", "string"),
      f("comment", "string")) ++
      (if (withParts) Seq(f("year", "integer"), f("month", "integer"))
       else Nil)
    Map("type" -> "struct", "fields" -> fields)
  }

  private var P: Map[String, String] = Map.empty
  private def lake(t: String) = run.p(s"lake/$t")

  def prepare(run: Run, dir: String): Unit = {
    gen = dir
    val parts = Seq("year", "month")
    P = Map(
      "full" -> run.params("FullLoad", Map(
        "source_dir" -> s"$dir/landing", "target_dir" -> lake("orders"),
        "file_format" -> "dsv", "delimiter" -> "|", "has_header" -> false,
        "target_schema" -> schemaJson(true),
        "partition_column" -> "order_date",
        "partition_column_format" -> "yyyyMMdd",
        "target_partitions" -> parts, "output_files_num" -> 4)),
      "append" -> run.params("AppendLoad", Map(
        "source_dir" -> s"$dir/append", "target_dir" -> lake("appended"),
        "header_dir" -> lake("appended_headers"),
        "file_format" -> "dsv", "delimiter" -> "|", "has_header" -> false,
        "target_schema" -> schemaJson(true),
        "regex_filename" -> Seq("orders_(\\d{4})\\d{4}",
          "orders_\\d{4}(\\d{2})\\d{2}"),
        "target_partitions" -> parts)),
      "fullMat" -> run.params("FullMaterialization", Map(
        "source_dir" -> lake("orders"), "target_dir" -> run.p("mart/full"),
        "target_partitions" -> parts, "num_versions_to_retain" -> 1)),
      "rangeMat" -> run.params("RangeMaterialization", Map(
        "source_dir" -> lake("orders"), "target_dir" -> run.p("mart/range"),
        "partition_column" -> "year", "date_from" -> "2024",
        "date_to" -> "2024", "target_partitions" -> parts,
        "num_versions_to_retain" -> 1)),
      "queryMat" -> run.params("QueryMaterialization", Map(
        "source_dir" -> lake("orders"), "target_dir" -> run.p("mart/query"),
        "select_conditions" -> Seq(Seq("year=2024", "month=12"),
          Seq("year=2023", "month=6")),
        "target_partitions" -> parts, "num_versions_to_retain" -> 1)),
      "report1" -> run.params("SQLRunner_orders", Map("steps" -> 2,
        "1" -> ("CREATE OR REPLACE TEMPORARY VIEW acon_orders AS SELECT * " +
          s"FROM parquet.`${lake("orders")}`"),
        "2" -> (s"INSERT OVERWRITE DIRECTORY '${run.p("reports/orders")}' " +
          "USING parquet SELECT year, month, status, count(*) AS n, " +
          "sum(total_cents) AS cents FROM acon_orders " +
          "GROUP BY year, month, status"))),
      "report2" -> run.params("SQLRunner_appended", Map("steps" -> 2,
        "1" -> ("CREATE OR REPLACE TEMPORARY VIEW acon_appended AS SELECT * " +
          s"FROM parquet.`${lake("appended")}`"),
        "2" -> (s"INSERT OVERWRITE DIRECTORY '${run.p("reports/appended")}' " +
          "USING parquet SELECT year, month, count(*) AS n, " +
          "sum(total_cents) AS cents FROM acon_appended GROUP BY year, month")))
    ) ++ (1 to 2).map(k => s"delta$k" -> run.params(s"DeltaLoad$k", Map(
      "active_records_dir" -> lake("orders"),
      "delta_records_file_path" -> s"$dir/delta$k",
      "file_format" -> "parquet", "business_key" -> Seq("order_id"),
      "technical_key" -> Seq("seq"), "target_partitions" -> parts))).toMap
  }

  private lazy val exp: Map[String, Digest.D] = {
    val e2 = expected(2)
    val app = appendFrame
    Map("load0" -> Digest.of(expected(0), tableCols),
      "load1" -> Digest.of(expected(1), tableCols),
      "load2" -> Digest.of(e2, tableCols),
      "append" -> Digest.of(app, tableCols),
      "range" -> Digest.of(e2.filter(col("year") === 2024), tableCols),
      "query" -> Digest.of(e2.filter((col("year") === 2024 &&
        col("month") === 12) || (col("year") === 2023 && col("month") === 6)),
        tableCols),
      "report1" -> Digest.of(e2.groupBy("year", "month", "status")
        .agg(count(lit(1)).as("n"), sum("total_cents").as("cents"))),
      "report2" -> Digest.of(app.groupBy("year", "month")
        .agg(count(lit(1)).as("n"), sum("total_cents").as("cents"))))
  }

  private def readTable(dir: String): DataFrame =
    run.spark.read.option("basePath", dir).parquet(dir)

  private def latestVersion(base: String): String =
    run.plainFsOps.ls(base).filter(_.matches("data_\\d{17}")).sorted
      .lastOption.map(v => s"$base/$v")
      .getOrElse(throw new IllegalStateException(s"no version under $base"))

  private def jobOp(cls: String, algo: String, key: String)(
      check: => Option[String]): Unit = {
    val ok = run.op(cls, algo, "core.run")(run.job(algo, P(key)))
    run.check(s"$algo output")(if (ok) check else Some("op failed"))
  }

  def round(run: Run, r: Int): Unit = {
    def table(dir: String) = Digest.of(readTable(dir), tableCols)
    jobOp(OpClass.Write, "FullLoad", "full")(
      Digest.compare("orders after FullLoad", table(lake("orders")),
        exp("load0")))
    (1 to 2).foreach(k => jobOp(OpClass.Fold, "DeltaLoad", s"delta$k")(
      Digest.compare(s"orders after delta $k", table(lake("orders")),
        exp(s"load$k"))))
    jobOp(OpClass.Write, "AppendLoad", "append")(
      Digest.compare("appended", table(lake("appended")), exp("append")))
    jobOp(OpClass.Write, "FullMaterialization", "fullMat")(
      Digest.compare("full mart", table(latestVersion(run.p("mart/full"))),
        exp("load2")))
    jobOp(OpClass.Write, "RangeMaterialization", "rangeMat")(
      Digest.compare("range mart", table(latestVersion(run.p("mart/range"))),
        exp("range")))
    jobOp(OpClass.Write, "QueryMaterialization", "queryMat")(
      Digest.compare("query mart", table(latestVersion(run.p("mart/query"))),
        exp("query")))
    jobOp(OpClass.Read, "SQLRunner", "report1")(
      Digest.compare("orders report",
        Digest.of(run.spark.read.parquet(run.p("reports/orders"))),
        exp("report1")))
    jobOp(OpClass.Read, "SQLRunner", "report2")(
      Digest.compare("appended report",
        Digest.of(run.spark.read.parquet(run.p("reports/appended"))),
        exp("report2")))
  }

  def inputBytesPerRound(run: Run): Long =
    Seq("landing", "delta1", "delta2", "append").map(d =>
      run.du(s"$gen/$d")).sum

  /** The last timed round's final outputs. */
  def finish(run: Run): Map[String, Double] = {
    run.check("orders after the last round")(Digest.compare("orders",
      Digest.of(readTable(lake("orders")), tableCols), exp("load2")))
    run.check("full mart after the last round")(Digest.compare("full mart",
      Digest.of(readTable(latestVersion(run.p("mart/full"))), tableCols),
      exp("load2")))
    run.check("orders report after the last round")(Digest.compare(
      "orders report", Digest.of(run.spark.read.parquet(
        run.p("reports/orders"))), exp("report1")))
    Map.empty
  }
}
