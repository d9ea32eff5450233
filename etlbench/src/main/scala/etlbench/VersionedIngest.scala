package etlbench

import graft.catalog.VersionedTable
import graft.streaming.MaintainedView
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** versioned_ingest: writes beside reads in the catalog. A bucketed and
  * a plain `VersionedTable` (lineitem-shaped) take the same seeded CDC
  * micro-batch through `merge` every round; consumers then run
  * `readLatest` aggregates, `readAsOf` and `changeFeed`; a
  * `MaintainedView.catchUp` poll folds the new version through LogFold,
  * and the batch, landed as a file, is folded by `MaintainedView.runOnce`
  * (one file per trigger, resumed checkpoint). Each round ends with a
  * `compact` of the bucketed chain and a `vacuum` of both tables; the
  * warm-up round adds one range-layout `writeIndexed`.
  *
  * The generator keeps the table state (live keys, version per key), so
  * each batch is built from that state — never from a frame read before
  * the previous commit — and every expected snapshot is recomputed in
  * plain Spark from it.
  */
final class VersionedIngest extends Workload {
  val name = "versioned_ingest"

  val baseRows = 100000
  val buckets = 16
  val updateFrac = 0.004
  val deleteFrac = 0.001
  val insertFrac = 0.002
  /** share of updates and deletes that hit the most recent 10% of keys */
  val recentShare = 0.7
  val keys: Seq[String] = Seq("l_orderkey", "l_linenumber")

  def genParams: Map[String, Any] = Map(
    "base_rows" -> baseRows, "buckets" -> buckets,
    "delta_fraction" -> (updateFrac + deleteFrac + insertFrac),
    "delete_share" -> deleteFrac / (updateFrac + deleteFrac + insertFrac),
    "recency_skew" -> s"$recentShare of updates/deletes in the newest 10% of keys",
    "batches" -> "one per round (warm-up included)")

  private var run: Run = _
  private var rnd: scala.util.Random = _
  /** version per row id; -1 = deleted, absent = never inserted */
  private val ver = mutable.ArrayBuffer.empty[Int]
  /** state snapshots after each batch, for checks */
  private val states = mutable.Map.empty[Int, Vector[Int]]
  private var batchCounts = Map.empty[Int, (Int, Int, Int)]
  private var batch = 0

  private def root(t: String) = run.p(s"tables/$t")
  private val bucketed = "bucketed"
  private val plain = "plain"
  private val indexed = "indexed"

  private def h(c: Column, salt: Int): Column =
    xxhash64(lit(run.seed), c, lit(salt))
  private def pm(c: Column, n: Int): Column = pmod(c, lit(n))

  /** Rows for (`rid`, `ver`) pairs. */
  private def rows(df: DataFrame): DataFrame = {
    val rid = col("rid"); val v = col("ver")
    df.select(
      (rid / 4).cast("long").as("l_orderkey"),
      (pmod(rid, lit(4)) + 1).cast("int").as("l_linenumber"),
      (pm(h(rid, 1), 20000) + 1).as("l_partkey"),
      (pm(h(rid, 2), 1000) + 1).as("l_suppkey"),
      (pm(xxhash64(lit(run.seed), rid, v, lit(3)), 50) + 1).cast("int")
        .as("l_quantity"),
      (pm(h(rid, 4), 100000) + 1000 + v * 13).as("l_extendedprice"),
      pm(xxhash64(lit(run.seed), rid, v, lit(5)), 11).cast("int")
        .as("l_discount"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pm(xxhash64(lit(run.seed), rid, v, lit(6)), 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (pm(h(rid, 7), 2) + 1).cast("int"))
        .as("l_linestatus"),
      date_format(date_add(lit("1995-01-01").cast("date"),
        (rid / 40).cast("int")), "yyyy-MM-dd").as("l_shipdate"))
  }

  private def frame(pairs: Seq[(Long, Int)]): DataFrame = {
    val spark = run.spark
    import spark.implicits._
    spark.sparkContext.parallelize(pairs, 4).toDF("rid", "ver")
  }

  /** The table the generator state describes: one row per live id. */
  private def stateFrame(s: Vector[Int]): DataFrame = {
    val vers = run.spark.sparkContext.broadcast(s.toArray)
    val verOf = udf((rid: Long) => vers.value(rid.toInt))
    rows(run.spark.range(0, s.size).toDF("rid")
      .withColumn("ver", verOf(col("rid"))).filter(col("ver") >= 0))
  }

  def generate(run: Run, dir: String): Unit = {
    this.run = run
    rnd = new scala.util.Random(run.seed)
    ver.clear(); ver ++= Seq.fill(baseRows)(0)
    states.clear(); states(0) = ver.toVector
    rows(run.spark.range(0, baseRows).toDF("rid").withColumn("ver", lit(0)))
      .write.parquet(s"$dir/base")
  }

  /** Next batch from the generator state: updates and deletes of live
    * keys (skewed to the newest keys) plus fresh inserts.
    */
  private def nextBatch(): (Seq[(Long, Int)], Seq[Long]) = {
    batch += 1
    val n = ver.size
    def pick(): Int = {
      val recent = rnd.nextDouble() < recentShare
      val lo = if (recent) (n * 0.9).toInt else 0
      val hi = if (recent) n else (n * 0.9).toInt
      lo + rnd.nextInt(hi - lo)
    }
    val chosen = mutable.LinkedHashMap.empty[Int, Boolean] // rid -> delete?
    val nUpd = (baseRows * updateFrac).toInt
    val nDel = (baseRows * deleteFrac).toInt
    while (chosen.size < nUpd + nDel) {
      val rid = pick()
      if (ver(rid) >= 0 && !chosen.contains(rid))
        chosen(rid) = chosen.size >= nUpd
    }
    val nIns = (baseRows * insertFrac).toInt
    val ins = (n until n + nIns).toVector
    ver ++= Seq.fill(nIns)(batch)
    val ups = chosen.collect { case (rid, false) => ver(rid) = batch; rid }
    val dels = chosen.collect { case (rid, true) => ver(rid) = -1; rid }
    states(batch) = ver.toVector
    batchCounts += batch -> ((nIns, ups.size, dels.size))
    ((ups ++ ins).map(r => (r.toLong, batch)).toSeq, dels.map(_.toLong).toSeq)
  }

  private def ts(b: Int, k: Int): Long = 1000000L + b * 100L + k

  def prepare(run: Run, dir: String): Unit = {
    val base = run.spark.read.parquet(s"$dir/base")
    val fs = run.plainFsOps
    VersionedTable.writeBucketed(base, fs, root(bucketed), ts(0, 0),
      "l_orderkey", buckets)
    VersionedTable.write(base, fs, root(plain), ts(0, 1))
  }

  private lazy val streamSchema =
    run.spark.read.parquet(run.p("gen/base")).schema

  private def latest(t: String): DataFrame =
    VersionedTable.readLatest(run.spark, run.plainFsOps, root(t))

  private def agg(df: DataFrame, groups: Seq[String]): DataFrame =
    df.groupBy(groups.map(col): _*).agg(count(lit(1)).as("n_rows"),
      sum("l_quantity").as("sum_l_quantity"),
      sum("l_extendedprice").as("sum_l_extendedprice"))

  private var landedUps = Vector.empty[String]

  /** (flag, linestatus, n, qty, price) aggregates rolled up to the
    * catch-up view's grouping: flag → (n, qty, price).
    */
  private def byFlag(rows: Set[Seq[Any]]): Map[String, Seq[Long]] =
    rows.toSeq.groupBy(_.head.toString).map { case (f, rs) =>
      f -> (2 to 4).map(i => rs.map(_(i).asInstanceOf[Long]).sum) }

  private def viewMismatch(want: Map[String, Seq[Long]]): Option[String] = {
    val got = latest("view_catchup").select("l_returnflag", "n_rows",
        "sum_l_quantity", "sum_l_extendedprice").collect()
      .map(r => r.getString(0) -> (1 to 3).map(r.getLong)).toMap
    if (got == want) None else Some(s"catch-up view $got, expected $want")
  }

  def round(run: Run, r: Int): Unit = {
    // land the batch (untimed): upserts and delete keys as files
    val (ups, dels) = nextBatch()
    val b = batch
    val bdir = run.p(s"batches/$b")
    rows(frame(ups)).coalesce(1).write.parquet(s"$bdir/up")
    rows(frame(dels.map(d => (d, 0)))).select(keys.map(col): _*)
      .coalesce(1).write.parquet(s"$bdir/del")
    val part = run.plainFsOps.ls(s"$bdir/up").find(_.endsWith(".parquet")).get
    run.plainFsOps.mkdirs(run.p("stream/in"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$bdir/up/$part"),
      java.nio.file.Paths.get(run.p(s"stream/in/batch-$b.parquet")))
    landedUps :+= s"$bdir/up"
    val spark = run.spark
    def fs = run.fsOps
    // expected state of this round, evaluated only when checks run
    lazy val expNow = stateFrame(states(b)).cache()
    lazy val expDigest = Digest.of(expNow)
    lazy val expAgg = agg(expNow, Seq("l_returnflag", "l_linestatus"))
      .collect().map(_.toSeq).toSet

    Seq(bucketed, plain).foreach { t =>
      val ok = run.op(OpClass.Write, s"merge_$t", "catalog.commit") {
        VersionedTable.merge(spark, fs, root(t),
          spark.read.parquet(s"$bdir/up"), spark.read.parquet(s"$bdir/del"),
          keys, ts(b, if (t == bucketed) 0 else 1))
      }
      run.check(s"merge into $t")(if (!ok) Some("op failed") else
        Digest.compare(t, Digest.of(latest(t)), expDigest))
      if (ok && run.tracing) commitExtras(t)
    }
    Seq(bucketed, plain).foreach { t =>
      var got: Array[org.apache.spark.sql.Row] = Array.empty
      run.op(OpClass.Read, "latest_agg", "catalog.read") {
        got = agg(VersionedTable.readLatest(spark, fs, root(t)),
          Seq("l_returnflag", "l_linestatus")).collect()
      }
      run.check(s"latest aggregate of $t")(
        if (got.map(_.toSeq).toSet == expAgg) None
        else Some(s"got ${got.mkString(",")}"))
    }
    var asOf = Digest.D(0, 0, 0)
    run.op(OpClass.Read, "as_of", "catalog.read") {
      asOf = Digest.of(VersionedTable.readAsOf(spark, fs, root(plain),
        ts(b - 1, 1)))
    }
    run.check("readAsOf of the previous version")(Digest.compare("as of",
      asOf, Digest.of(stateFrame(states(b - 1)))))
    var feed = Map.empty[String, Long]
    run.op(OpClass.Read, "change_feed", "catalog.read") {
      val v = VersionedTable.latestVersion(fs, root(plain))
      feed = VersionedTable.changeFeed(spark, fs, root(plain), v - 1, v, keys)
        .groupBy("change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    run.check("change feed counts") {
      val (i, u, d) = batchCounts(b)
      val want = Map("insert" -> i.toLong, "update_preimage" -> u.toLong,
        "update_postimage" -> u.toLong, "delete" -> d.toLong)
        .filter(_._2 > 0)
      if (feed == want) None else Some(s"got $feed, expected $want")
    }
    val okCatch = run.op(OpClass.Fold, "catch_up", "catalog.catchup") {
      MaintainedView.catchUp(spark, fs, root(plain), root("view_catchup"),
        keys, Seq("l_returnflag"), Seq("l_quantity", "l_extendedprice"))
    }
    run.check("catchUp view")(if (!okCatch) Some("op failed") else
      viewMismatch(byFlag(expAgg)))
    val okStream = run.op(OpClass.Fold, "run_once", "streaming.run_once") {
      MaintainedView.runOnce(spark, streamSchema, run.p("stream/in"),
        root("view_stream"), Seq("l_returnflag"), Seq("l_quantity"),
        queryName = "etlbench_stream", maxFilesPerTrigger = Some(1),
        checkpointLocation = Some(run.p("stream/checkpoint")))
    }
    run.check("runOnce view")(if (!okStream) Some("op failed") else
      Digest.compare("stream view", Digest.of(latest("view_stream")),
        Digest.of(spark.read.parquet(landedUps: _*)
          .groupBy("l_returnflag").agg(count(lit(1)).as("n_rows"),
            sum("l_quantity").as("sum_l_quantity")))))
    val okCompact = run.op(OpClass.Write, "compact", "catalog.commit") {
      VersionedTable.compact(spark, fs, root(bucketed), ts(b, 2), buckets)
    }
    run.check("compacted bucketed table")(if (!okCompact) Some("op failed")
      else Digest.compare("compacted", Digest.of(latest(bucketed)), expDigest))
    run.op(OpClass.Write, "vacuum", "catalog.commit") {
      Seq(bucketed, plain).foreach(t => VersionedTable.vacuum(fs, root(t),
        keepLast = 2, retentionMs = 0L, force = true))
    }
    if (r == 0) {
      // the range layout, once per run: its commit metadata is checked
      // with every other commit in finish()
      run.op(OpClass.Write, "write_indexed", "catalog.commit") {
        VersionedTable.writeIndexed(latest(plain), fs, root(indexed),
          ts(b, 3), "l_orderkey", 4)
      }
      run.check("range-layout snapshot")(Digest.compare("indexed",
        Digest.of(latest(indexed)), expDigest))
    }
    if (!run.timed) expNow.unpersist()
  }

  /** bytes, files and rewritten buckets of the commit a merge just made
    * (traced rounds; halved so a round reports the per-commit mean)
    */
  private def commitExtras(t: String): Unit = {
    val c = VersionedTable.commits(run.plainFsOps, root(t)).last
    val dir = s"${root(t)}/${c.path}"
    val rewritten = c.bucketMap.map(_.split(",").count(_.endsWith(":self")))
      .getOrElse(c.nBuckets.getOrElse(0)).toDouble
    run.opExtras += ((run.round, s"merge_$t", Map(
      "catalog.bytes_per_commit" -> run.du(dir) / 2.0,
      "catalog.files_per_version" -> run.fileCount(dir) / 2.0,
      "catalog.buckets_rewritten" -> (if (t == bucketed) rewritten else 0.0))))
  }

  def inputBytesPerRound(run: Run): Long =
    run.du(run.p(s"batches/$batch"))

  /** Commits whose recorded `rows` differ from what they hold: the
    * snapshot's row count, or for a bucketed delta commit the rows it
    * wrote (its own buckets). Vacuumed versions are skipped.
    */
  private def metaMismatches(t: String): Int = {
    val fs = run.plainFsOps
    VersionedTable.commits(fs, root(t))
      .filter(c => fs.exists(s"${root(t)}/${c.path}"))
      .count { c =>
        val actual = c.bucketMap match {
          case Some(m) =>
            val own = m.split(",").filter(_.endsWith(":self"))
              .map(_.split(":")(0).toInt).toSeq
            if (own.isEmpty) 0L
            else VersionedTable.readVersionBuckets(run.spark, fs, root(t),
              c.version, own).count()
          case None =>
            VersionedTable.readVersion(run.spark, fs, root(t), c.version).count()
        }
        actual != c.rows
      }
  }

  def finish(run: Run): Map[String, Double] = {
    val expFinal = stateFrame(states(batch)).cache()
    val want = Digest.of(expFinal)
    Seq(bucketed, plain).foreach(t => run.check(s"$t after the last round")(
      Digest.compare(t, Digest.of(latest(t)), want)))
    run.check("catchUp view after the last round")(viewMismatch(byFlag(
      agg(expFinal, Seq("l_returnflag", "l_linestatus")).collect()
        .map(_.toSeq).toSet)))
    expFinal.unpersist()
    val mismatch = Seq(bucketed, plain, indexed).map(metaMismatches).sum
    val fs = run.plainFsOps
    val latestBytes = Seq(bucketed, plain).map { t =>
      val c = VersionedTable.commits(fs, root(t)).last
      run.du(s"${root(t)}/${c.path}")
    }.sum
    val allBytes = Seq(bucketed, plain).map(t => run.du(root(t))).sum
    Map("catalog.meta_mismatch" -> mismatch.toDouble,
      "catalog.space_amp" -> allBytes.toDouble / math.max(latestBytes, 1L))
  }
}
