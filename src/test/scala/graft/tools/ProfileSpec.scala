package graft.tools

import graft.SparkSpec

class ProfileSpec extends SparkSpec {

  test("unionMs counts overlapping job spans once") {
    Profile.unionMs(Seq((0L, 10L), (5L, 15L))) shouldBe 15L
    Profile.unionMs(Seq((20L, 25L), (0L, 10L))) shouldBe 15L // disjoint
    Profile.unionMs(Seq((0L, 10L), (2L, 5L))) shouldBe 10L // nested
    Profile.unionMs(Seq.empty) shouldBe 0L
  }

  test("median of odd and even rep counts") {
    Profile.median(Seq(30L, 10L, 20L)) shouldBe 20L
    Profile.median(Seq(40L, 10L, 30L, 20L)) shouldBe 25L
    Profile.median(Seq(1L, 2L)) shouldBe 1L // floor of the middles' mean
    Profile.median(Seq(7L)) shouldBe 7L
  }

  test("interleave rotates the first gate each round") {
    (0 until 4).map(Profile.order(Seq("A", "B"), _)) shouldBe
      Seq(Seq("A", "B"), Seq("B", "A"), Seq("A", "B"), Seq("B", "A"))
    (0 until 4).map(Profile.order(Seq("A", "B", "C"), _)) shouldBe
      Seq(Seq("A", "B", "C"), Seq("B", "C", "A"), Seq("C", "A", "B"),
        Seq("A", "B", "C"))
  }

  test("a profiled gate reports its wall split into the union of its " +
      "jobs and the time outside them, as one short JSON line") {
    val plans = tmp("profile_plans")
    val Seq(r) = Profile.run(spark, Seq("q05_region_revenue"),
      "/root/testdata/sf0.001", reps = 1, plans = Some(plans))
    val Seq(rep) = r.reps
    val stat = r.stats.toMap
    stat("wall_ms") should be > 0L
    stat("jobs") should be > 0L
    stat("outside_job_ms") shouldBe
      stat("wall_ms") - Profile.unionMs(rep.jobs.map(j => (j.start, j.end)))
    stat("job_ms") should be <= stat("wall_ms")
    val json = r.lines.head
    json should startWith("""{"gate":"q05_region_revenue","sf":""")
    json.length should be < 4096
    r.lines.tail.size should be <= 10
    val plan = java.nio.file.Paths.get(plans, "q05_region_revenue_sf0.001.txt")
    java.nio.file.Files.readString(plan) should include("Physical Plan")
  }
}
