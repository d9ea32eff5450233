package graft.catalog

import graft.SparkSpec
import graft.fsops.FsOps
import org.apache.spark.sql.functions._
import scala.collection.parallel.CollectionConverters._

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new FsOps(spark.sparkContext.hadoopConfiguration)

  private def df(rows: (Long, String, Long)*) =
    rows.toSeq.toDF("id", "name", "val")

  test("write/readVersion/readLatest round-trip three snapshots") {
    val root = tmp("vt")
    val v1 = df((1L, "a", 10L), (2L, "b", 20L))
    val v2 = df((1L, "a", 11L), (3L, "c", 30L))
    val v3 = df((3L, "c", 31L))
    assert(VersionedTable.write(v1, fs, root, ts = 100L) === 1L)
    assert(VersionedTable.write(v2, fs, root, ts = 200L) === 2L)
    assert(VersionedTable.write(v3, fs, root, ts = 300L) === 3L)
    assertSameRows(VersionedTable.readVersion(spark, fs, root, 1L), v1)
    assertSameRows(VersionedTable.readVersion(spark, fs, root, 2L), v2)
    assertSameRows(VersionedTable.readLatest(spark, fs, root), v3)
    assert(VersionedTable.latestVersion(fs, root) === 3L)
  }

  test("readAsOf picks the newest commit at or before ts; before-first fails") {
    val root = tmp("vt")
    VersionedTable.write(df((1L, "a", 1L)), fs, root, ts = 100L)
    VersionedTable.write(df((1L, "a", 2L)), fs, root, ts = 200L)
    assert(VersionedTable.versionAsOf(fs, root, 150L) === 1L)
    assert(VersionedTable.versionAsOf(fs, root, 200L) === 2L)
    assert(VersionedTable.versionAsOf(fs, root, 9999L) === 2L)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.versionAsOf(fs, root, 50L)
    }
    assert(e.getMessage.contains("ts=50"))
  }

  test("readVersion fails by name for never-committed and vacuumed versions") {
    val root = tmp("vt")
    VersionedTable.write(df((1L, "a", 1L)), fs, root, ts = 100L)
    VersionedTable.write(df((2L, "b", 2L)), fs, root, ts = 200L)
    VersionedTable.write(df((3L, "c", 3L)), fs, root, ts = 300L)
    val never = intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, fs, root, 9L)
    }
    assert(never.getMessage.contains("version 9"))
    assert(VersionedTable.vacuum(fs, root, keepLast = 2) === Seq(1L))
    val gone = intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, fs, root, 1L)
    }
    assert(gone.getMessage.contains("vacuumed"))
    assert(gone.getMessage.contains("earliest readable is 2"))
    // retained versions unaffected
    assert(VersionedTable.readVersion(spark, fs, root, 2L).count() === 1L)
    // vacuum is idempotent; must retain at least one version
    assert(VersionedTable.vacuum(fs, root, keepLast = 2).isEmpty)
    intercept[IllegalArgumentException] {
      VersionedTable.vacuum(fs, root, keepLast = 0)
    }
  }

  test("diff classifies insert/delete/update with the right payload side") {
    val root = tmp("vt")
    VersionedTable.write(
      df((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)), fs, root, 100L)
    VersionedTable.write(
      df((1L, "a", 10L), (2L, "b", 21L), (4L, "d", 40L)), fs, root, 200L)
    val d = VersionedTable.diff(spark, fs, root, 1L, 2L, Seq("id"))
      .select("id", "change_type", "name", "val")
    assertSameRows(d, Seq(
      (2L, "update", "b", 21L), // to-side payload
      (3L, "delete", "c", 30L), // from-side payload
      (4L, "insert", "d", 40L)
    ).toDF("id", "change_type", "name", "val"))
  }

  test("diff treats null payloads null-safely; an added column aligns " +
      "as typed nulls (schema evolution), a changed type fails by name") {
    val root = tmp("vt")
    val a = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("id", "name")
    val b = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("id", "name")
    VersionedTable.write(a, fs, root, 100L)
    VersionedTable.write(b, fs, root, 200L)
    val d = VersionedTable.diff(spark, fs, root, 1L, 2L, Seq("id"))
    // id=1 null==null → unchanged; id=2 x→null → update
    assertSameRows(d.select("id", "change_type"),
      Seq((2L, "update")).toDF("id", "change_type"))
    // v3 gains a column: the boundary diff classifies a row as updated
    // exactly when the NEW column is non-null there (null <=> null rows
    // stay unchanged), and the v2 side serves typed nulls
    VersionedTable.write(
      b.withColumn("extra", when($"id" === 2L, lit(7))), fs, root, 300L)
    val evo = VersionedTable.diff(spark, fs, root, 2L, 3L, Seq("id"))
    assert(evo.columns.sorted === Array("change_type", "extra", "id",
      "name"))
    assertSameRows(evo.select("id", "change_type", "extra"),
      Seq((2L, "update", 7)).toDF("id", "change_type", "extra"))
    // reversed direction works too (column absent on the TO side):
    // the feed face emits both images across the boundary
    val feedBack = VersionedTable.changeFeed(spark, fs, root, 3L, 2L,
      Seq("id"))
    assert(feedBack.filter($"change_type" === "update_preimage")
      .select("extra").collect().head.getInt(0) === 7)
    // a TYPE change still fails by name — never a silent cast
    VersionedTable.write(
      b.withColumn("extra", lit("now a string")), fs, root, 400L)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.diff(spark, fs, root, 3L, 4L, Seq("id"))
    }
    assert(e.getMessage.contains("changed TYPE"))
    assert(e.getMessage.contains("extra"))
  }

  test("restore publishes old content as a new version; history records it") {
    val root = tmp("vt")
    val v1 = df((1L, "a", 10L))
    VersionedTable.write(v1, fs, root, 100L)
    VersionedTable.write(df((2L, "b", 20L)), fs, root, 200L)
    assert(VersionedTable.restore(spark, fs, root, 1L, ts = 300L) === 3L)
    assertSameRows(VersionedTable.readLatest(spark, fs, root), v1)
    // restored copy survives vacuuming the original
    VersionedTable.vacuum(fs, root, keepLast = 2)
    assertSameRows(VersionedTable.readLatest(spark, fs, root), v1)
    val h = VersionedTable.history(spark, fs, root)
      .select("version", "ts", "op", "rows", "readable")
    assertSameRows(h, Seq(
      (1L, 100L, "write", 1L, false),
      (2L, 200L, "write", 1L, true),
      (3L, 300L, "restore", 1L, true)
    ).toDF("version", "ts", "op", "rows", "readable"))
  }

  test("an orphan data dir from a crashed writer is invisible; vacuum " +
      "sweep reclaims it") {
    val root = tmp("vt")
    VersionedTable.write(df((1L, "a", 1L)), fs, root, 100L)
    // simulate a writer that landed data but died before its commit
    df((9L, "ghost", 9L)).write.parquet(s"$root/d-deadbeef")
    assert(VersionedTable.latestVersion(fs, root) === 1L) // invisible
    val v = VersionedTable.write(df((2L, "b", 2L)), fs, root, 200L)
    assert(v === 2L)
    assertSameRows(VersionedTable.readVersion(spark, fs, root, 2L),
      df((2L, "b", 2L)))
    VersionedTable.vacuum(fs, root, keepLast = 2, sweepUncommitted = true)
    assert(!fs.exists(s"$root/d-deadbeef")) // orphan reclaimed
    // committed versions untouched by the sweep
    assertSameRows(VersionedTable.readVersion(spark, fs, root, 1L),
      df((1L, "a", 1L)))
  }

  test("a crashed mid-publish writer's staging file is invisible and " +
      "does not block later commits") {
    val root = tmp("vt")
    VersionedTable.write(df((1L, "a", 1L)), fs, root, ts = 100L)
    // simulate a writer that staged commit content but died before the
    // publishing rename: only .tmp names can ever be half-written
    fs.writeFile(s"$root/_commits/.00002.json.deadbeef.tmp",
      """{"version": 2, "ts":""") // truncated on purpose
    assert(VersionedTable.latestVersion(fs, root) === 1L)
    assert(VersionedTable.write(df((2L, "b", 2L)), fs, root, 200L) === 2L)
    assertSameRows(VersionedTable.readLatest(spark, fs, root),
      df((2L, "b", 2L)))
  }

  test("op strings with quotes and backslashes round-trip the commit log") {
    val root = tmp("vt")
    val op = """write "q1" via C:\jobs\n1"""
    VersionedTable.write(df((1L, "a", 1L)), fs, root, ts = 100L, op = op)
    assert(VersionedTable.commits(fs, root).head.op === op)
    assert(VersionedTable.latestVersion(fs, root) === 1L)
  }

  test("version ordering is numeric, not lexicographic: 100000 > 99999") {
    val root = tmp("vt")
    // forge the log directly: "100000.json" sorts lexicographically
    // BEFORE "99999.json"; commits() must order by the parsed version
    for (v <- Seq(99999L, 100000L)) {
      df((v, "x", v)).write.parquet(s"$root/d-$v")
      fs.writeFile(s"$root/_commits/$v.json",
        s"""{"version": $v, "ts": $v, "op": "write", "rows": 1,""" +
          s""" "path": "d-$v"}""")
    }
    assert(VersionedTable.latestVersion(fs, root) === 100000L)
    assertSameRows(VersionedTable.readLatest(spark, fs, root),
      df((100000L, "x", 100000L)))
    // and the next write claims 100001, not a recycled number
    assert(VersionedTable.write(df((5L, "y", 5L)), fs, root, 999999L)
      === 100001L)
  }

  test("vacuum retention: a just-superseded version survives keepLast; " +
      "age past retention releases it; floor fails fast unless forced") {
    val hour = 60L * 60 * 1000
    val root = tmp("vt")
    VersionedTable.write(df((1L, "a", 1L)), fs, root, ts = 0L)
    VersionedTable.write(df((2L, "b", 2L)), fs, root, ts = 1000L)
    // v1 was superseded at ts=1000; one hour later it is inside the 12h
    // retention window → protected even though keepLast=1 would drop it
    assert(VersionedTable.vacuum(fs, root, keepLast = 1,
      nowMs = 1000L + hour).isEmpty)
    assert(VersionedTable.readVersion(spark, fs, root, 1L).count() === 1L)
    // 13 hours after supersession the grace has lapsed
    assert(VersionedTable.vacuum(fs, root, keepLast = 1,
      nowMs = 1000L + 13 * hour) === Seq(1L))
    // sub-floor retention is a foot-gun: fail fast, force overrides
    VersionedTable.write(df((3L, "c", 3L)), fs, root, ts = 2000L)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.vacuum(fs, root, keepLast = 1, retentionMs = 1L,
        nowMs = 2000L + hour)
    }
    assert(e.getMessage.contains("force"))
    assert(VersionedTable.vacuum(fs, root, keepLast = 1, retentionMs = 1L,
      force = true, nowMs = 2000L + hour) === Seq(2L))
  }

  test("changeFeed expands an update into preimage + postimage; " +
      "insert/delete stay single rows") {
    val root = tmp("vt")
    VersionedTable.write(
      df((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)), fs, root, 100L)
    VersionedTable.write(
      df((1L, "a", 10L), (2L, "b", 21L), (4L, "d", 40L)), fs, root, 200L)
    val feed = VersionedTable.changeFeed(spark, fs, root, 1L, 2L, Seq("id"))
      .select("id", "change_type", "name", "val")
    assertSameRows(feed, Seq(
      (2L, "update_preimage", "b", 20L), // the retracted row
      (2L, "update_postimage", "b", 21L), // its replacement
      (3L, "delete", "c", 30L),
      (4L, "insert", "d", 40L)
    ).toDF("id", "change_type", "name", "val"))
  }

  test("diff/changeFeed fail fast on duplicate keys when asked") {
    val root = tmp("vt")
    VersionedTable.write(df((1L, "a", 1L), (1L, "a2", 2L)), fs, root, 100L)
    VersionedTable.write(df((1L, "a", 1L)), fs, root, 200L)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.diff(spark, fs, root, 1L, 2L, Seq("id"),
        checkUniqueKeys = true)
    }
    assert(e.getMessage.contains("not unique in version 1"))
    // without the check the precondition is the caller's (documented)
    VersionedTable.diff(spark, fs, root, 1L, 2L, Seq("id")).collect()
  }

  test("writeIndexed commits a manifest; readVersionPruned opens only " +
      "admitted files and matches the exact filter") {
    val root = tmp("vt")
    val big = spark.range(0, 4000).selectExpr("id", "id * 2 AS val")
    VersionedTable.writeIndexed(big, fs, root, ts = 100L,
      indexCol = "id", numFiles = 8)
    // a later plain write doesn't disturb version 1's index
    VersionedTable.write(spark.range(0, 10).toDF(), fs, root, ts = 200L)
    assert(VersionedTable.commits(fs, root).head.indexCol === Some("id"))
    val pruned = VersionedTable.readVersionPruned(spark, fs, root, 1L,
      "id", lo = 1000L, hi = 1499L)
    assertSameRows(pruned,
      big.filter(col("id") >= 1000L && col("id") <= 1499L))
    // the sorted layout puts 500 of 4000 rows in 1-2 of the 8 files
    val full = VersionedTable.readVersion(spark, fs, root, 1L)
    assert(pruned.inputFiles.length < full.inputFiles.length)
    assert(pruned.inputFiles.toSet.subsetOf(full.inputFiles.toSet))
    // plain readVersion of the indexed snapshot ignores the manifest dir
    assert(full.count() === 4000L)
    // asking for a dimension the commit did not index fails by name
    val e = intercept[IllegalArgumentException] {
      VersionedTable.readVersionPruned(spark, fs, root, 1L, "val", 0, 1)
    }
    assert(e.getMessage.contains("not range-indexed on val"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.readVersionPruned(spark, fs, root, 2L, "id", 0, 1)
    }
    assert(e2.getMessage.contains("not range-indexed"))
  }

  test("writeZIndexed commits a 2-D manifest; readVersionPrunedRect " +
      "opens only admitted files; kind/axis mismatches fail by name") {
    val root = tmp("vt")
    val big = spark.range(0, 4096).selectExpr(
      "id % 64 AS x", "CAST(id / 64 AS LONG) AS y", "id AS payload")
    VersionedTable.writeZIndexed(big, fs, root, ts = 100L,
      xCol = "x", yCol = "y", bits = 6, numFiles = 16)
    assert(VersionedTable.commits(fs, root).head.indexKind
      === Some("zorder"))
    val pruned = VersionedTable.readVersionPrunedRect(spark, fs, root,
      1L, "x", "y", xLo = 8, xHi = 15, yLo = 8, yHi = 15)
    assertSameRows(pruned,
      big.filter(col("x").between(8, 15) && col("y").between(8, 15)))
    val full = VersionedTable.readVersion(spark, fs, root, 1L)
    assert(pruned.inputFiles.length < full.inputFiles.length)
    // a 1-D range request against a zorder snapshot must not silently
    // prune on the wrong geometry
    val e = intercept[IllegalArgumentException] {
      VersionedTable.readVersionPruned(spark, fs, root, 1L, "x", 0, 1)
    }
    assert(e.getMessage.contains("not range-indexed"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.readVersionPrunedRect(spark, fs, root, 1L,
        "y", "x", 0, 1, 0, 1) // swapped axes ≠ committed "x,y"
    }
    assert(e2.getMessage.contains("not zorder-indexed"))
  }

  test("compact republishes identical content in fewer files as a new " +
      "version; indexed compact serves pruned reads") {
    val root = tmp("vt")
    val data = spark.range(0, 2000).selectExpr("id", "id * 3 AS val")
    // a high-frequency loop left the latest snapshot in many small files
    VersionedTable.write(data.repartition(32), fs, root, ts = 100L)
    val before = VersionedTable.readLatest(spark, fs, root)
    assert(before.inputFiles.length === 32)
    val v2 = VersionedTable.compact(spark, fs, root, ts = 200L,
      numFiles = 4)
    assert(v2 === 2L)
    val after = VersionedTable.readLatest(spark, fs, root)
    assert(after.inputFiles.length <= 4)
    assertSameRows(after, data)
    // snapshot isolation: the pre-compact layout stays readable
    assert(VersionedTable.readVersion(spark, fs, root, 1L)
      .inputFiles.length === 32)
    assert(VersionedTable.commits(fs, root).last.op === "compact")
    // indexed compact: the new layout serves manifest-pruned reads
    val v3 = VersionedTable.compact(spark, fs, root, ts = 300L,
      numFiles = 8, indexCol = Some("id"))
    val pruned = VersionedTable.readVersionPruned(spark, fs, root, v3,
      "id", 500, 749)
    assertSameRows(pruned, data.filter(col("id").between(500, 749)))
    assert(pruned.inputFiles.length <
      VersionedTable.readVersion(spark, fs, root, v3).inputFiles.length)
  }

  test("writeIf commits only from the expected base version: a " +
      "concurrent commit turns the read-modify-write into a conflict") {
    val root = tmp("vt")
    VersionedTable.write(df((1L, "a", 10L)), fs, root, ts = 100L)
    // writer A reads v1, computes, commits from base 1 → v2
    assert(VersionedTable.writeIf(df((1L, "a", 11L)), fs, root,
      ts = 200L, expectedVersion = 1L) === 2L)
    // writer B ALSO based its snapshot on v1 — blind write would
    // silently drop A's change; writeIf refuses
    val e = intercept[java.util.ConcurrentModificationException] {
      VersionedTable.writeIf(df((1L, "a", 99L)), fs, root,
        ts = 300L, expectedVersion = 1L)
    }
    assert(e.getMessage.contains("version 2"))
    // B re-reads (now v2), recomputes, retries from the right base
    assert(VersionedTable.writeIf(df((1L, "a", 111L)), fs, root,
      ts = 400L, expectedVersion = 2L) === 3L)
    assertSameRows(VersionedTable.readLatest(spark, fs, root),
      df((1L, "a", 111L)))
    // no orphan data dirs from the refused commit linger after a sweep
    VersionedTable.vacuum(fs, root, keepLast = 3, force = true,
      retentionMs = 0L, sweepUncommitted = true)
    assert(VersionedTable.readVersion(spark, fs, root, 3L).count() === 1L)
  }

  test("writePartitioned lands col=value dirs: a partition filter " +
      "prunes directories on a plain time-travel read") {
    val root = tmp("vt")
    val data = spark.range(0, 900).selectExpr(
      "CAST(id % 3 AS STRING) AS part", "id", "id * 2 AS val")
    VersionedTable.writePartitioned(data, fs, root, ts = 100L,
      partitionCols = Seq("part"))
    val c = VersionedTable.commits(fs, root).head
    assert(c.indexCol === Some("part") && c.indexKind === Some("hive"))
    val read = VersionedTable.readVersion(spark, fs, root, 1L)
    assertSameRows(read.select("id", "val", "part"),
      data.select("id", "val", "part"))
    val pruned = read.filter(col("part") === "1")
    // directory pruning: the filter lands as a PARTITION filter on the
    // scan (inputFiles can't show this — it lists the unpruned relation)
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.exists(_.toString.contains("part")),
      s"expected a partition filter on the scan:\n$scan")
    assert(scan.selectedPartitions.partitionCount === 1,
      "only the part=1 directory may survive pruning")
    assertSameRows(pruned.select("id"),
      data.filter(col("part") === "1").select("id"))
    // manifest-pruned readers reject the hive layout by kind
    val e = intercept[IllegalArgumentException] {
      VersionedTable.readVersionPruned(spark, fs, root, 1L, "part", 0, 1)
    }
    assert(e.getMessage.contains("not range-indexed"))
  }

  test("writePartitioned round-trips non-string partition columns: the " +
      "committed types survive the hive layout's string directories") {
    val root = tmp("vt")
    val data = spark.range(0, 90).selectExpr("id % 3 AS part", "id")
    VersionedTable.writePartitioned(data, fs, root, ts = 100L,
      partitionCols = Seq("part"))
    val read = VersionedTable.readVersion(spark, fs, root, 1L)
    assert(read.schema("part").dataType
      === org.apache.spark.sql.types.LongType)
    assertSameRows(read.select("id", "part"), data.select("id", "part"))
    // and diff against a PLAIN-written version compares long-to-long
    VersionedTable.write(data.filter($"id" =!= 7L), fs, root, ts = 200L)
    val d = VersionedTable.diff(spark, fs, root, 1L, 2L, Seq("id"))
    assertSameRows(d.select("id", "change_type"),
      Seq((7L, "delete")).toDF("id", "change_type"))
  }

  test("a commit with an index_col but no index_kind satisfies NO pruned " +
      "reader (never a wrong-geometry prune)") {
    val root = tmp("vt")
    spark.range(3).toDF("x").write.parquet(s"$root/d-forged")
    fs.writeFile(s"$root/_commits/00001.json",
      """{"version": 1, "ts": 1, "op": "write", "rows": 3,""" +
        """ "path": "d-forged", "index_col": "x"}""")
    intercept[IllegalArgumentException] {
      VersionedTable.readVersionPruned(spark, fs, root, 1L, "x", 0, 1)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.readVersionPrunedRect(spark, fs, root, 1L,
        "x", "y", 0, 1, 0, 1)
    }
    // the plain read still serves the snapshot
    assert(VersionedTable.readVersion(spark, fs, root, 1L).count() === 3L)
  }

  test("compact conflicts instead of superseding a concurrent commit") {
    // the pin mechanism is shared with writeIf; what compact must add is
    // basing BOTH the content and the pin on the same read version —
    // verified indirectly: compacting twice back-to-back succeeds (each
    // re-reads), and the commit history shows each compact pinned to its
    // read's successor
    val root = tmp("vt")
    VersionedTable.write(spark.range(100).toDF("id").repartition(8),
      fs, root, ts = 100L)
    assert(VersionedTable.compact(spark, fs, root, ts = 200L,
      numFiles = 2) === 2L)
    assert(VersionedTable.compact(spark, fs, root, ts = 300L,
      numFiles = 1) === 3L)
    assert(VersionedTable.commits(fs, root).map(_.op)
      === Seq("write", "compact", "compact"))
    assert(VersionedTable.readLatest(spark, fs, root).count() === 100L)
  }

  test("two racing writers commit distinct versions, both readable") {
    val root = tmp("vt")
    VersionedTable.write(df((0L, "seed", 0L)), fs, root, 50L)
    val frames = Seq(df((1L, "w1", 1L)), df((2L, "w2", 2L)))
    val versions = frames.par.map(f =>
      VersionedTable.write(f, fs, root, ts = 100L)).toList.sorted
    assert(versions === List(2L, 3L))
    val both = VersionedTable.readVersion(spark, fs, root, 2L)
      .unionByName(VersionedTable.readVersion(spark, fs, root, 3L))
    assertSameRows(both, frames.head.unionByName(frames.last))
  }

  // judged on the OPTIMIZED LOGICAL plan: the executed plan hides under
  // AdaptiveSparkPlanExec until materialization, so a physical collect
  // would vacuously "find no joins" either way
  private def noJoins(frame: org.apache.spark.sql.DataFrame) =
    frame.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty

  test("merge records the change set at commit time: the feed is " +
      "served from _changes with NO join and equals the snapshot-diff " +
      "fold; the snapshot applies upserts and deletes") {
    val root = tmp("vt_m")
    val v1 = df((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L))
    VersionedTable.write(v1, fs, root, ts = 100L)
    // update 2, insert 5, NO-OP upsert of 3 (identical row), delete 4
    val upserts = df((2L, "b", 25L), (5L, "e", 50L), (3L, "c", 30L))
    val deleteKeys = Seq(4L).toDF("id")
    assert(VersionedTable.merge(spark, fs, root, upserts, deleteKeys,
      Seq("id"), ts = 200L) === 2L)
    assertSameRows(VersionedTable.readLatest(spark, fs, root),
      df((1L, "a", 10L), (2L, "b", 25L), (3L, "c", 30L),
        (5L, "e", 50L)))
    val feed = VersionedTable.changeFeed(spark, fs, root, 1L, 2L,
      Seq("id"))
    // plan shape: a recorded feed is a plain scan of the _changes dir —
    // no join operator anywhere, delta-cardinality input
    assert(noJoins(feed))
    assert(feed.inputFiles.nonEmpty
      && feed.inputFiles.forall(_.contains("_changes")))
    // content: identical to the (forced) snapshot-diff fold
    assertSameRows(feed,
      VersionedTable.changeFeedJoined(spark, fs, root, 1L, 2L,
        Seq("id")))
    // the no-op upsert of 3 produced NO change rows
    assert(feed.filter($"id" === 3L).count() === 0L)
    // diff face: single row per key, postimage payload for updates
    val d = VersionedTable.diff(spark, fs, root, 1L, 2L, Seq("id"))
    assert(noJoins(d))
    assertSameRows(d,
      Seq((2L, "update", "b", 25L), (4L, "delete", "d", 40L),
        (5L, "insert", "e", 50L))
        .toDF("id", "change_type", "name", "val"))
  }

  test("a different-key or version-range feed falls back to the " +
      "snapshot diff (identical answer, join plan)") {
    val root = tmp("vt_m")
    VersionedTable.write(df((1L, "a", 10L), (2L, "b", 20L)), fs, root,
      ts = 100L)
    VersionedTable.merge(spark, fs, root, df((2L, "b", 25L)),
      Seq.empty[Long].toDF("id"), Seq("id"), ts = 200L)
    // recorded keys = [id]; asking with (id, name) must NOT serve the
    // recorded set — classification could differ under other keys
    val other = VersionedTable.changeFeed(spark, fs, root, 1L, 2L,
      Seq("id", "name"))
    assert(!noJoins(other))
    assertSameRows(other, VersionedTable.changeFeedJoined(spark, fs,
      root, 1L, 2L, Seq("id", "name")))
    // a version RANGE never serves a recorded set
    VersionedTable.merge(spark, fs, root, df((1L, "a", 11L)),
      Seq.empty[Long].toDF("id"), Seq("id"), ts = 300L)
    val range = VersionedTable.changeFeed(spark, fs, root, 1L, 3L,
      Seq("id"))
    assert(!noJoins(range))
  }

  test("merge treats NULL keys null-safely: a null-keyed row updates " +
      "in place instead of duplicating") {
    val root = tmp("vt_m")
    val v1 = Seq((Option(1L), "a", 10L), (Option.empty[Long], "n", 5L))
      .toDF("id", "name", "val")
    VersionedTable.write(v1, fs, root, ts = 100L)
    val upserts = Seq((Option.empty[Long], "n", 7L))
      .toDF("id", "name", "val")
    VersionedTable.merge(spark, fs, root, upserts,
      Seq.empty[Long].toDF("id"), Seq("id"), ts = 200L)
    assertSameRows(VersionedTable.readLatest(spark, fs, root),
      Seq((Option(1L), "a", 10L), (Option.empty[Long], "n", 7L))
        .toDF("id", "name", "val"))
    val feed = VersionedTable.changeFeed(spark, fs, root, 1L, 2L,
      Seq("id"))
    assert(feed.count() === 2L) // pre + post image for the null key
    assert(feed.filter($"change_type" === "insert").count() === 0L)
  }

  test("writeWithChanges validates the change-set schema and the keys") {
    val root = tmp("vt_m")
    val snap = df((1L, "a", 10L))
    val missingType = df((1L, "a", 10L)) // no change_type column
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.writeWithChanges(snap, missingType, fs, root,
        ts = 100L, keys = Seq("id"))
    }
    assert(e1.getMessage.contains("change_type"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.writeWithChanges(snap,
        snap.withColumn("change_type", lit("insert")), fs, root,
        ts = 100L, keys = Seq("nope"))
    }
    assert(e2.getMessage.contains("nope"))
  }

  test("merge fails fast when a key is both upserted and deleted") {
    val root = tmp("vt_m")
    VersionedTable.write(df((4L, "d", 40L)), fs, root, ts = 100L)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, fs, root, df((4L, "d", 41L)),
        Seq(4L).toDF("id"), Seq("id"), ts = 200L)
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  private def bucketIdOf(id: Long, n: Int): Int =
    spark.range(1).select(VersionedTable.bucketOf(lit(id), n))
      .collect().head.getInt(0)

  test("bucketed snapshots: a delta commit writes ONLY the touched " +
      "buckets, reads untouched ones by reference, and reads back the " +
      "full logical content") {
    val root = tmp("vt_b")
    val n = 8
    val v1 = df((1L to 40L).map(i => (i, s"n$i", i * 10)): _*)
    VersionedTable.writeBucketed(v1, fs, root, ts = 100L,
      bucketBy = "id", nBuckets = n)
    // the internal bucket column never reaches readers
    assert(VersionedTable.readVersion(spark, fs, root, 1L)
      .columns.sorted === Array("id", "name", "val"))
    assertSameRows(VersionedTable.readVersion(spark, fs, root, 1L), v1)
    // delta: update id=5, insert id=41 — touched = their two buckets
    val touched = Seq(bucketIdOf(5L, n), bucketIdOf(41L, n))
      .distinct.sorted
    val keep = (1L to 40L).filter(i => i != 5L
      && touched.contains(bucketIdOf(i, n)))
    val content = df(
      keep.map(i => (i, s"n$i", i * 10)) ++
        Seq((5L, "upd", 999L), (41L, "new", 410L)): _*)
    assert(VersionedTable.writeBucketedDelta(spark, fs, root, ts = 200L,
      content, touched) === 2L)
    val want2 = df((1L to 41L).filterNot(_ == 5L)
      .map(i => (i, if (i == 41L) "new" else s"n$i",
        if (i == 41L) 410L else i * 10)) ++ Seq((5L, "upd", 999L)): _*)
    assertSameRows(VersionedTable.readVersion(spark, fs, root, 2L), want2)
    // snapshot isolation: v1 unchanged
    assertSameRows(VersionedTable.readVersion(spark, fs, root, 1L), v1)
    // WRITE AMPLIFICATION: the delta commit's own dir holds exactly the
    // touched buckets, nothing else — untouched buckets were never
    // copied, they are map references into v1's dir
    val c2 = VersionedTable.commits(fs, root).last
    val ownBuckets = fs.ls(s"$root/${c2.path}")
      .filter(_.startsWith("bucket_id="))
      .map(_.stripPrefix("bucket_id=").toInt).sorted.toSeq
    assert(ownBuckets === touched)
    assert(c2.bucketMap.isDefined)
    // pruned read: only the touched buckets' rows, read from leaf dirs
    assertSameRows(VersionedTable.readVersionBuckets(spark, fs, root,
      2L, touched), content)
    // a pruned read of an untouched bucket serves v1's rows by reference
    val other = (0 until n).filterNot(touched.contains).head
    assertSameRows(
      VersionedTable.readVersionBuckets(spark, fs, root, 2L, Seq(other)),
      v1.filter(VersionedTable.bucketOf(col("id"), n) === other))
  }

  test("a delta row landing outside the touched buckets fails in-plan " +
      "instead of silently shadowing data") {
    val root = tmp("vt_b")
    val n = 8
    VersionedTable.writeBucketed(df((1L, "a", 1L), (2L, "b", 2L)), fs,
      root, ts = 100L, bucketBy = "id", nBuckets = n)
    val strayBucket = bucketIdOf(2L, n)
    val touched = Seq(bucketIdOf(1L, n)).filterNot(_ == strayBucket)
    // id=2 belongs to an untouched bucket: the landing write must raise
    val e = intercept[Exception] {
      VersionedTable.writeBucketedDelta(spark, fs, root, ts = 200L,
        df((1L, "a2", 1L), (2L, "stray", 2L)),
        if (touched.isEmpty) Seq((strayBucket + 1) % n) else touched)
    }
    assert(e.getMessage != null
      && (e.getMessage.contains("untouched bucket")
        || e.getCause != null))
  }

  test("vacuum honors bucket-map references; compact re-anchors the " +
      "chain so ancestors become reclaimable") {
    val root = tmp("vt_b")
    val n = 4
    val v1 = df((1L to 20L).map(i => (i, s"n$i", i)): _*)
    VersionedTable.writeBucketed(v1, fs, root, ts = 100L,
      bucketBy = "id", nBuckets = n)
    val dirA = VersionedTable.commits(fs, root).last.path
    val t5 = bucketIdOf(5L, n)
    val content = df((1L to 20L).filter(i =>
      bucketIdOf(i, n) == t5 && i != 5L).map(i => (i, s"n$i", i)): _*)
    VersionedTable.writeBucketedDelta(spark, fs, root, ts = 200L,
      content, Seq(t5)) // delete id=5
    // keepLast=1 retains only v2, but v2's map references v1's dir:
    // nothing may be deleted
    assert(VersionedTable.vacuum(fs, root, keepLast = 1,
      retentionMs = 0L, force = true).isEmpty)
    assert(fs.exists(s"$root/$dirA"))
    assertSameRows(VersionedTable.readLatest(spark, fs, root),
      v1.filter($"id" =!= 5L))
    // compact re-anchors: one fresh full bucketed dir, ancestors now
    // unreferenced by the retained chain and reclaimable
    VersionedTable.compact(spark, fs, root, ts = 300L, numFiles = 4)
    assert(VersionedTable.vacuum(fs, root, keepLast = 1,
      retentionMs = 0L, force = true).sorted === Seq(1L, 2L))
    assert(!fs.exists(s"$root/$dirA"))
    assertSameRows(VersionedTable.readLatest(spark, fs, root),
      v1.filter($"id" =!= 5L))
    val gone = intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, fs, root, 2L)
    }
    assert(gone.getMessage.contains("vacuumed"))
  }

  test("a delta commit onto a non-bucketed parent fails by name; an " +
      "empty touched set consumes the version without writing data") {
    val root = tmp("vt_b")
    VersionedTable.write(df((1L, "a", 1L)), fs, root, ts = 100L)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.writeBucketedDelta(spark, fs, root, ts = 200L,
        df((1L, "a", 1L)), Seq(0))
    }
    assert(e.getMessage.contains("not bucketed"))
    val rootB = tmp("vt_b2")
    VersionedTable.writeBucketed(df((1L, "a", 1L)), fs, rootB,
      ts = 100L, bucketBy = "id", nBuckets = 4)
    assert(VersionedTable.writeBucketedDelta(spark, fs, rootB,
      ts = 200L, df((1L, "a", 1L)).limit(0), Seq.empty) === 2L)
    assertSameRows(VersionedTable.readLatest(spark, fs, rootB),
      df((1L, "a", 1L)))
    assert(VersionedTable.commits(fs, rootB).last.rows === 0L)
  }

  test("merge on a bucketed chain rewrites ONLY the touched buckets " +
      "and records the change set — snapshot, feed and folds all " +
      "O(delta)") {
    val root = tmp("vt_bm")
    val n = 8
    val v1 = df((1L to 40L).map(i => (i, s"n$i", i * 10)): _*)
    VersionedTable.writeBucketed(v1, fs, root, ts = 100L,
      bucketBy = "id", nBuckets = n)
    // update 5, insert 41, delete 7 — the merge dispatches on layout
    val upserts = df((5L, "upd", 999L), (41L, "new", 410L))
    val deleteKeys = Seq(7L).toDF("id")
    assert(VersionedTable.merge(spark, fs, root, upserts, deleteKeys,
      Seq("id"), ts = 200L) === 2L)
    val want = df((1L to 41L).filterNot(i => i == 5L || i == 7L)
      .map(i => (i, if (i == 41L) "new" else s"n$i",
        if (i == 41L) 410L else i * 10)) ++ Seq((5L, "upd", 999L)): _*)
    assertSameRows(VersionedTable.readLatest(spark, fs, root), want)
    // the commit is a DELTA: own dir carries exactly the delta-key
    // buckets (plus the recorded change set), everything else by map
    val c2 = VersionedTable.commits(fs, root).last
    assert(c2.bucketMap.isDefined && c2.cdcKeys.contains("id"))
    val expectTouched = Seq(5L, 41L, 7L).map(bucketIdOf(_, n))
      .distinct.sorted
    val own = fs.ls(s"$root/${c2.path}")
    assert(own.filter(_.startsWith("bucket_id="))
      .map(_.stripPrefix("bucket_id=").toInt).sorted.toSeq
      === expectTouched)
    assert(own.contains("_changes"))
    // the feed serves the recorded set (no join) and equals the
    // snapshot-diff fold
    val feed = VersionedTable.changeFeed(spark, fs, root, 1L, 2L,
      Seq("id"))
    assert(noJoins(feed))
    assert(feed.inputFiles.forall(_.contains("_changes")))
    assertSameRows(feed, VersionedTable.changeFeedJoined(spark, fs,
      root, 1L, 2L, Seq("id")))
    // the bucket column must be among the merge keys on this layout —
    // bucket assignment of every delta row must be derivable
    val e = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, fs, root, upserts,
        Seq.empty[String].toDF("name"), Seq("name"), ts = 300L)
    }
    assert(e.getMessage.contains("bucket column"))
  }

  test("a delta commit derived from a superseded state conflicts " +
      "instead of silently reverting the racer's buckets") {
    val root = tmp("vt_b")
    val n = 4
    VersionedTable.writeBucketed(df((1L to 20L).map(i =>
      (i, s"n$i", i)): _*), fs, root, ts = 100L, bucketBy = "id",
      nBuckets = n)
    val t1 = bucketIdOf(1L, n)
    val content = df((1L to 20L).filter(i => bucketIdOf(i, n) == t1)
      .map(i => (i, s"n$i", i + 100)): _*)
    // a racing writer supersedes version 1 first
    VersionedTable.writeBucketedDelta(spark, fs, root, ts = 150L,
      content, Seq(t1))
    // this writer derived ITS content from version 1: must conflict
    val e = intercept[java.util.ConcurrentModificationException] {
      VersionedTable.writeBucketedDelta(spark, fs, root, ts = 200L,
        content, Seq(t1), expectedParentVersion = Some(1L))
    }
    assert(e.getMessage.contains("derived from version 1"))
    // the correctly-based commit goes through
    assert(VersionedTable.writeBucketedDelta(spark, fs, root, ts = 250L,
      content, Seq(t1), expectedParentVersion = Some(2L)) === 3L)
  }

  test("an all-empty bucketed snapshot refuses to commit (no schema " +
      "would survive) — and nothing is consumed, so the writer can " +
      "retry once rows exist") {
    val root = tmp("vt_b")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.writeBucketed(df().limit(0), fs, root, ts = 100L,
        bucketBy = "id", nBuckets = 4)
    }
    assert(e.getMessage.contains("EMPTY bucketed snapshot"))
    assert(VersionedTable.commits(fs, root).isEmpty) // nothing consumed
    assert(VersionedTable.writeBucketed(df((1L, "a", 1L)), fs, root,
      ts = 200L, bucketBy = "id", nBuckets = 4) === 1L)
  }

  test("compact with index_col on a bucketed chain fails by name " +
      "instead of silently dropping the bucket metadata") {
    val root = tmp("vt_b")
    VersionedTable.writeBucketed(df((1L, "a", 1L), (2L, "b", 2L)), fs,
      root, ts = 100L, bucketBy = "id", nBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.compact(spark, fs, root, ts = 200L, numFiles = 1,
        indexCol = Some("id"))
    }
    assert(e.getMessage.contains("mutually exclusive"))
    // without index_col the chain compacts in its bucket layout
    VersionedTable.compact(spark, fs, root, ts = 300L, numFiles = 1)
    assert(VersionedTable.commits(fs, root).last.bucketCol
      .contains("id"))
  }

  test("a recorded change set travels and vacuums with its snapshot: " +
      "after vacuum the feed falls back and fails on the missing " +
      "snapshot by name") {
    val root = tmp("vt_m")
    VersionedTable.write(df((1L, "a", 10L)), fs, root, ts = 100L)
    VersionedTable.merge(spark, fs, root, df((1L, "a", 11L)),
      Seq.empty[Long].toDF("id"), Seq("id"), ts = 200L)
    VersionedTable.write(df((1L, "a", 12L)), fs, root, ts = 300L)
    VersionedTable.write(df((1L, "a", 13L)), fs, root, ts = 400L)
    // vacuum versions 1-2 (forced past retention: test commits are old)
    VersionedTable.vacuum(fs, root, keepLast = 2, retentionMs = 0L,
      force = true)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.changeFeed(spark, fs, root, 1L, 2L, Seq("id"))
        .count()
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("publishExclusive through a non-file scheme takes the rename " +
      "path: the first publish wins, a second of the same version loses " +
      "and leaves the winner intact, no staging file remains") {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.renamefs.impl", classOf[RenameOnlyFileSystem].getName)
    val rfs = new FsOps(conf)
    val dir = "renamefs://" + tmp("vt_pub") + "/_commits"
    val p = s"$dir/00000000000000000001.json"
    assert(rfs.fs(new org.apache.hadoop.fs.Path(p)).getScheme === "renamefs")
    assert(VersionedTable.publishExclusive(rfs, p, "winner"))
    assert(!VersionedTable.publishExclusive(rfs, p, "loser"))
    assert(rfs.readFile(p) === "winner")
    assert(rfs.ls(dir).toSeq === Seq("00000000000000000001.json"))
  }
}

/** The local file system under its own scheme, so commit publication
  * takes the exists-check + rename path HDFS and object stores take
  * instead of the `file:` hard link.
  */
class RenameOnlyFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "renamefs"
  override def getUri: java.net.URI = java.net.URI.create("renamefs:///")
}
