package graft.catalog

import graft.SparkSpec
import graft.fsops.FsOps
import org.apache.spark.sql.functions.lit

/** A commit's recorded `rows` must match the data it describes, on every
  * write face — including the range layouts, whose `repartitionByRange`
  * sampling job re-runs the written plan.
  */
class CommitRowsSpec extends SparkSpec {
  import spark.implicits._

  test("every write face records the rows its commit landed") {
    val fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
    val vt = VersionedTable
    val df = (1 to 4000).map(i => (i.toLong, i % 7, s"v$i")).toDF("k", "g", "v")
    val base = tmp("commit_rows")
    /** the latest commit's rows, checked against the count of `landed` */
    def rowsOf(face: String, root: String, landed: Long): Unit =
      withClue(s"$face: ") { vt.commits(fsOps, root).last.rows shouldBe landed }
    def snapshotRows(face: String, root: String): Unit =
      rowsOf(face, root, vt.readLatest(spark, fsOps, root).count())

    vt.write(df, fsOps, s"$base/plain", 1L)
    snapshotRows("write", s"$base/plain")
    vt.writeIf(df.limit(1500), fsOps, s"$base/plain", 2L, expectedVersion = 1L)
    snapshotRows("writeIf", s"$base/plain")
    vt.merge(spark, fsOps, s"$base/plain",
      Seq((1L, 0, "new"), (9000L, 1, "ins")).toDF("k", "g", "v"),
      Seq(2L).toDF("k"), Seq("k"), 3L)
    snapshotRows("merge (plain)", s"$base/plain")
    vt.compact(spark, fsOps, s"$base/plain", 4L, numFiles = 2)
    snapshotRows("compact", s"$base/plain")
    vt.compact(spark, fsOps, s"$base/plain", 5L, numFiles = 4,
      indexCol = Some("k"))
    snapshotRows("compact(index_col)", s"$base/plain")

    vt.writeWithChanges(df, df.withColumn("change_type", lit("insert")),
      fsOps, s"$base/cdc", 1L, Seq("k"))
    snapshotRows("writeWithChanges", s"$base/cdc")
    vt.writePartitioned(df, fsOps, s"$base/hive", 1L, Seq("g"))
    snapshotRows("writePartitioned", s"$base/hive")
    vt.writeIndexed(df, fsOps, s"$base/range", 1L, "k", 4)
    snapshotRows("writeIndexed", s"$base/range")
    vt.writeZIndexed(df, fsOps, s"$base/z", 1L, "k", "g", 16, 4)
    snapshotRows("writeZIndexed", s"$base/z")

    val bucketed = s"$base/bucketed"
    vt.writeBucketed(df, fsOps, bucketed, 1L, "k", 8)
    snapshotRows("writeBucketed", bucketed)
    // a delta commit records the rows it WROTE: the touched buckets
    val touched = vt.readVersionBuckets(spark, fsOps, bucketed, 1L, Seq(0, 3))
    vt.writeBucketedDelta(spark, fsOps, bucketed, 2L, touched, Seq(0, 3))
    rowsOf("writeBucketedDelta", bucketed,
      vt.readVersionBuckets(spark, fsOps, bucketed, 2L, Seq(0, 3)).count())
    vt.compact(spark, fsOps, bucketed, 3L, numFiles = 8)
    snapshotRows("compact(bucketed)", bucketed)
  }
}
