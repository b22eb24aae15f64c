package graft

import graft.queries.RelationalQueries

/** q_growth / q_conversion_lag: hand-computed user journeys plus the
  * growth-accounting identities the operator's whole point rests on. */
class GrowthSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int, h: Int = 0) =
    new java.sql.Timestamp(86400000L * day + 3600000L * h)

  private def eventsDir(rows: Seq[(Long, Long, String, Int)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_growth").toString
    rows.map { case (eid, uid, tpe, day) => (eid, ts(day), uid, tpe, 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("q_growth hand-computed: new / retained / resurrected / churned flows") {
    // u1: days 0,1,3  -> new@0, retained@1, churn@2, resurrected@3, churn@4
    // u2: days 0      -> new@0, churn@1
    // u3: days 1,2    -> new@1, retained@2, churn@3
    val dir = eventsDir(Seq(
      (1L, 1L, "view", 0), (2L, 1L, "view", 1), (3L, 1L, "view", 3),
      (4L, 2L, "view", 0),
      (5L, 3L, "view", 1), (6L, 3L, "view", 2)))
    val rows = RelationalQueries.qGrowth(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // day: (active, new, retained, resurrected, churned)
    def f(d: Long) = (1 to 5).map(rows(d).getLong(_))
    assert(f(0) == Seq(2, 2, 0, 0, 0), s"day0: ${f(0)}")
    assert(f(1) == Seq(2, 1, 1, 0, 1), s"day1 (u2 churns): ${f(1)}")
    assert(f(2) == Seq(1, 0, 1, 0, 1), s"day2 (u1 lapses): ${f(2)}")
    assert(f(3) == Seq(1, 0, 0, 1, 1), s"day3 (u1 back, u3 churns): ${f(3)}")
    assert(rows.size == 4, "dense frame over observed days 0..3 only")
  }

  test("q_growth identities hold on the sf corpus: active = new + retained " +
      "+ resurrected, and active(t) = active(t-1) - churned(t) + inflows(t)") {
    val rows = RelationalQueries.qGrowth(spark, sfDir).collect()
      .sortBy(_.getLong(0))
    for (r <- rows)
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        s"composition identity at d=${r.getLong(0)}: $r")
    for (Array(a, b) <- rows.sliding(2) if b.getLong(0) == a.getLong(0) + 1)
      assert(b.getLong(1) ==
        a.getLong(1) - b.getLong(5) + b.getLong(2) + b.getLong(4),
        s"flow identity at d=${b.getLong(0)}: $a -> $b")
  }

  test("q_lateness hand-computed: in-order events land in bucket 0; a " +
      "late arrival lands in its minute gap off the user's running max") {
    val dir = java.nio.file.Files.createTempDirectory("graft_late").toString
    def at(ms: Long) = new java.sql.Timestamp(ms)
    // arrival order = event_id; u1's 3rd event is 150s older than the max
    Seq(
      (1L, at(0L), 1L, "view", 1.0),
      (2L, at(600000L), 1L, "view", 1.0),      // +10min, in order
      (3L, at(450000L), 1L, "view", 1.0),      // 150s late -> bucket 2
      (4L, at(0L), 2L, "view", 1.0))           // other user, in order
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val got = RelationalQueries.qLateness(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 2L -> 1L), s"$got")
  }

  test("q_lateness mass conservation on the sf corpus") {
    val n = spark.read.parquet(s"$sfDir/events.parquet").count()
    val rows = RelationalQueries.qLateness(spark, sfDir).collect()
    assert(rows.map(_.getLong(1)).sum == n)
    assert(rows.forall(_.getLong(0) >= 0L), "lateness is never negative")
  }

  test("q_concurrency hand-computed: interval stacking finds the overlap " +
      "peak; back-to-back sessions never double-count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conc").toString
    def at(min: Long) = new java.sql.Timestamp(min * 60000L)
    // u1: one session [0, 10]; u2: [5, 15]; u3: [40, 41] (own session,
    // outside); u1 again at [60] (second session after the 30-min gap).
    // Overlap of u1+u2 on [5,10] -> peak 2, first reached at 5min.
    Seq(
      (1L, at(0), 1L, "view", 1.0), (2L, at(10), 1L, "view", 1.0),
      (3L, at(5), 2L, "view", 1.0), (4L, at(15), 2L, "view", 1.0),
      (5L, at(40), 3L, "view", 1.0), (6L, at(41), 3L, "view", 1.0),
      (7L, at(90), 1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val r = RelationalQueries.qConcurrency(spark, dir).collect()(0)
    assert(r.getLong(0) == 4, s"4 sessions (u1 twice): $r")
    assert(r.getLong(1) == 2, s"peak concurrency 2: $r")
    assert(r.getLong(2) == 5L * 60000000L, s"first reached at minute 5: $r")
  }

  test("q_conversion_lag hand-computed: same-day, multi-day and NEGATIVE " +
      "(purchase-before-signup) buckets") {
    val dir = eventsDir(Seq(
      (1L, 1L, "signup", 0), (2L, 1L, "purchase", 0),   // same day -> 0
      (3L, 2L, "signup", 1), (4L, 2L, "purchase", 4),   // -> 3
      (5L, 3L, "purchase", 2), (6L, 3L, "signup", 5),   // -> -3 (audit signal)
      (7L, 4L, "signup", 0)))                           // never converts: absent
    val got = RelationalQueries.qConversionLag(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 1L, 3L -> 1L, -3L -> 1L), s"$got")
  }
}
