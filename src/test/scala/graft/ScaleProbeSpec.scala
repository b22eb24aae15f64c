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
  * Drives real jobs under job groups and asserts the listener
  * accumulated the stage metrics of its own group only. */
class GroupTelemetrySpec extends SparkSpec {

  test("stage metrics accumulate for the listener's own job group only") {
    import spark.implicits._
    val group = "telemetry-spec"
    val t = new Diag.GroupTelemetry(group)
    val sc = spark.sparkContext
    spark.sparkContext.addSparkListener(t)
    // one shuffle so shuffle-write records are nonzero
    def shuffle(): Unit = (1L to 10000L).toDF("x")
      .groupBy(org.apache.spark.sql.functions.col("x") % 7).count().collect()
    try {
      sc.setJobGroup(group, "spec", interruptOnCancel = false)
      shuffle()
      sc.clearJobGroup()
      org.apache.spark.ListenerBusBridge.drain(sc)
      val c = t.counters
      assert(c.stages >= 2, s"expected both map and reduce stages, got ${c.stages}")
      assert(c.jobs >= 1, s"jobs: ${c.jobs}")
      assert(c.shuffleWriteRecords >= 7, s"shuffle write records: ${c.shuffleWriteRecords}")
      assert(c.shuffleReadBytes > 0)
      assert(c.lastStage.nonEmpty)
      // a foreign group's job, and a job in no group, must not leak in
      sc.setJobGroup("some-other-group", "spec")
      shuffle()
      sc.clearJobGroup()
      shuffle()
      org.apache.spark.ListenerBusBridge.drain(sc)
      assert(t.counters == c)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(t)
    }
  }
}

/** The one measuring path's failures, through every output built on
  * it: [[Diag.line]], [[Bench.line]]'s `queries`/`first`/`errors`, and
  * [[ScaleProbe.verdictOf]] over [[ScaleProbe.wallOf]]. Builders are
  * injected, so no spec here runs the registry. */
class MeasuringPathSpec extends SparkSpec {
  import scala.concurrent.duration._
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.{col, udf}

  private type Builder = (SparkSession, String) => DataFrame
  private val fine: Builder = (s, _) => s.range(100).toDF("id")
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Bench over `bad` and a key that runs, each key's run bounded by `bound`. */
  private def bench(bad: Builder, bound: FiniteDuration) = {
    val m = Bench.measure(Seq("bad", "fine"), k =>
      Diag.run(spark, k, if (k == "bad") bad else fine, sfDir, bound))
    (m, json.readTree(Bench.line(m, sfDir, Nil, Nil)))
  }

  test("a builder that throws reads error with no time in Diag, Bench and ScaleProbe") {
    val throwing: Builder = (_, _) => throw new IllegalStateException("no such table")
    val (m, out) = bench(throwing, 30.seconds)
    val o = m.last("bad")
    assert(o == Diag.Outcome.Error("java.lang.IllegalStateException: no such table"))
    val diag = json.readTree(Diag.line("bad", o))
    assert(diag.get("status").asText == "error" && !diag.has("wall_s"), diag.toString)
    assert(out.get("queries").get("bad").isNull && out.get("first").get("bad").isNull)
    assert(out.get("errors").get("bad").asText.contains("no such table"))
    assert(out.get("queries").get("fine").isNumber && out.get("first").get("fine").isNumber)
    assert(m.total == m.queries.toMap.apply("fine"), "the failed key was counted in the total")
    assert(m.passes.count(_.contains("bad")) == 1, "a failed key ran again")
    assert(out.get("passes_run").asInt == m.passes.size && m.passes.size >= Bench.Passes)
    assert(ScaleProbe.verdictOf(Seq(ScaleProbe.wallOf(o)), Nil) == "error")
  }

  test("a run past its bound reads dnf in Diag, Bench and ScaleProbe, and its " +
      "job group is cancelled") {
    val sleep = udf { (x: Long) => Thread.sleep(120000); x }
    val sleepy: Builder = (s, _) => s.range(0, 2, 1, 2).select(sleep(col("id")).as("x"))
    // the jobs of the "bad" key's runs (Diag.run describes its group by
    // the key), and every job that ended
    val started, ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "bad"))
          started.add(e.jobId)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(jobs)
    try {
      val t0 = System.nanoTime()
      val (m, out) = bench(sleepy, 1.second)
      val o = m.last("bad")
      assert(o.isInstanceOf[Diag.Outcome.Dnf], o.toString)
      val diag = json.readTree(Diag.line("bad", o))
      assert(diag.get("status").asText == "dnf" && !diag.has("wall_s") && diag.has("jobs"))
      assert(out.get("queries").get("bad").isNull &&
        out.get("errors").get("bad").asText.startsWith("dnf"))
      assert(m.passes.count(_.contains("bad")) == 1, "a key past its bound ran again")
      assert(ScaleProbe.verdictOf(Seq(ScaleProbe.wallOf(o)), Nil) == "dnf")
      // the tasks sleep for 120 s: only a cancel ends their job sooner
      def settled = !started.isEmpty && ended.containsAll(started)
      while (!settled && System.nanoTime() - t0 < 60e9) Thread.sleep(100)
      assert(settled, s"jobs of the timed-out run: $started, ended: $ended")
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  test("a run that builds SemanticIndex resident blocks reports their bytes in its line") {
    import org.apache.spark.sql.functions.{array, lit}
    val searching: Builder = (s, _) => {
      val recs = s.range(0, 500, 1, 2).select(col("id").cast("string").as("item"),
        array(col("id").cast("float"), lit(1f)).as("embedding"))
      graft.index.SemanticIndex.fromRecords(s, recs).search(Array(1f, 0f), 3)
    }
    val o = Diag.run(spark, "search", searching, sfDir, 60.seconds)
    val c = o match {
      case Diag.Outcome.Ok(_, c) => c
      case other => fail(other.toString)
    }
    // 500 two-float vectors, plus their rows
    assert(c.residentBytes > 500L * 2 * 4, c.toString)
    assert(json.readTree(Diag.line("search", o)).get("resident_bytes").asLong == c.residentBytes)
    assert(!json.readTree(Diag.line("fine", Diag.run(spark, "fine", fine, sfDir, 60.seconds)))
      .has("resident_bytes"))
  }
}
