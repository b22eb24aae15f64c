package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale-probe verdict rule (r11): DNF dominates; super-linear
  * needs BOTH a growth ratio past slack × the data ratio AND a wall
  * past the latency floor (scheduling-bound keys never flag). */
class ScaleProbeSpec extends AnyFunSuite {

  test("linear growth at the data ratio is linearish") {
    assert(ScaleProbe.verdictOf(Seq(3.0, 30.0), Seq(10.0)) == "linearish")
    assert(ScaleProbe.verdictOf(Seq(3.0, 8.0), Seq(10.0)) == "linearish")
  }

  test("quadratic growth flags super_linear") {
    // 10x data, 100x wall — the dedup_containment r10 shape
    assert(ScaleProbe.verdictOf(Seq(3.5, 350.0), Seq(10.0)) == "super_linear")
  }

  test("latency-floor-bound keys never flag, whatever their ratio") {
    // 0.01 s -> 1.5 s is 150x but under the 2 s floor: scheduling noise
    assert(ScaleProbe.verdictOf(Seq(0.01, 1.5), Seq(10.0)) == "linearish")
  }

  test("a DNF dominates every other verdict") {
    assert(ScaleProbe.verdictOf(Seq(3.0, -1.0), Seq(10.0)) == "dnf")
    assert(ScaleProbe.verdictOf(Seq(-1.0, 30.0), Seq(10.0)) == "dnf")
  }

  test("a thrown error is its own verdict, not a fake timeout (r11 ADVICE)") {
    assert(ScaleProbe.verdictOf(Seq(3.0, ScaleProbe.WallError), Seq(10.0))
      == "error")
    // error even dominates a DNF elsewhere on the ladder — a crash is
    // the louder signal
    assert(ScaleProbe.verdictOf(
      Seq(ScaleProbe.WallError, ScaleProbe.WallDnf), Seq(10.0)) == "error")
  }

  test("multi-step ladders judge every adjacent step") {
    // fine at 10x, quadratic on the 3x step after it
    assert(ScaleProbe.verdictOf(Seq(1.0, 10.0, 95.0), Seq(10.0, 3.0))
      == "super_linear")
    assert(ScaleProbe.verdictOf(Seq(1.0, 10.0, 31.0), Seq(10.0, 3.0))
      == "linearish")
  }
}

/** The kill-time telemetry a DNF row carries (r13 — the r12 verdict's
  * #6: a wall of -1 with no phase name means the fix gets guessed).
  * Drives a real job under a job group and asserts the listener
  * accumulated the stage metrics a timeout snapshot would report. */
class GroupTelemetrySpec extends SparkSpec {

  test("stage metrics accumulate per job group and reset() clears them") {
    import spark.implicits._
    val t = new ScaleProbe.GroupTelemetry
    spark.sparkContext.addSparkListener(t)
    val group = "telemetry-spec"
    try {
      spark.sparkContext.setJobGroup(group, "spec", interruptOnCancel = false)
      // one shuffle so shuffle-write records are nonzero
      (1L to 10000L).toDF("x")
        .groupBy(org.apache.spark.sql.functions.col("x") % 7)
        .count().collect()
      spark.sparkContext.clearJobGroup()
      // listener events post asynchronously — poll until they land
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
          !t.snapshot(group).exists(_.stagesDone >= 2))
        Thread.sleep(100)
      val s = t.snapshot(group).getOrElse(fail("no snapshot for the group"))
      assert(s.stagesDone >= 2, s"expected both map and reduce stages, got ${s.stagesDone}")
      assert(s.jobs >= 1, s"jobs: ${s.jobs}")
      assert(s.shuffleWriteRecords >= 7, s"shuffle write records: ${s.shuffleWriteRecords}")
      assert(s.shuffleReadBytes > 0)
      assert(s.lastStage.nonEmpty)
      // a foreign group's job must not leak in
      assert(t.snapshot("some-other-group").isEmpty)
      t.reset(group)
      assert(t.snapshot(group).isEmpty)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(t)
    }
  }
}
