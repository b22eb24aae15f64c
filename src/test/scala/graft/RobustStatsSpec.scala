package graft

import org.apache.spark.sql.functions._

import graft.queries.RelationalQueries

/**
 * r9 analytics additions: winsorized/trimmed robust stats,
 * Kaplan–Meier survival and engagement concentration — each pinned to
 * hand-computed ground truth.
 */
class RobustStatsSpec extends SparkSpec {
  import spark.implicits._

  private def ordersDir(rows: Seq[(Long, Double, Int)]): String = {
    // (orderkey, totalprice, epoch-day)
    val dir = java.nio.file.Files.createTempDirectory("graft_rs").toString
    rows.map { case (k, p, day) =>
      (k, k % 5, "F", p, new java.sql.Timestamp(day * 86400000L), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    dir
  }

  test("q_winsorize hand-computed: cuts at the exact p05/p95 crossings, " +
      "winsorized and trimmed means replay by hand") {
    // prices 1..20 dollars, one each: lo cut = 1 (first crossing of 5%),
    // hi cut = 19 (first crossing of 95%); clip 20 -> 19
    val dir = ordersDir((1 to 20).map(i => (i.toLong, i.toDouble, i % 7)))
    val r = RelationalQueries.qWinsorize(spark, dir).collect()(0)
    assert(r.getLong(0) == 20, s"$r")
    assert(r.getDouble(1) == 1.0 && r.getDouble(2) == 19.0, s"cuts: $r")
    // winsorized mean = (sum(1..19) + 19)/20 = 209/20 = 10.45
    assert(r.getDouble(3) == 10.45, s"win_mean: $r")
    // trimmed (values in [1,19]): mean = 190/19 = 10.0 over 19 rows
    assert(r.getDouble(5) == 10.0 && r.getLong(6) == 19, s"trimmed: $r")
    // std replays the same exact-variance chain: var = 2831000000/20
    // - 1045^2 cents^2 = 323475
    val wantStd = math.floor(math.sqrt(323475.0) / 100.0 * 1e4 + 0.5) / 1e4
    assert(r.getDouble(4) == wantStd, s"win_std: $r vs $wantStd")
  }

  test("q_survival hand-computed: product-limit steps and censoring on the " +
      "final active day") {
    val dir = java.nio.file.Files.createTempDirectory("graft_km").toString
    def ts(day: Int) = new java.sql.Timestamp(day * 86400000L)
    // u1 churns at lifetime 0, u2 at 1, u3 censored at 2 (active on maxd)
    Seq((1L, ts(0), 1L), (2L, ts(0), 2L), (3L, ts(1), 2L),
      (4L, ts(0), 3L), (5L, ts(2), 3L))
      .map { case (e, t, u) => (e, t, u, "view", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val got = RelationalQueries.qSurvival(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    // t=0: risk 3, 1 death -> S = 2/3; t=1: risk 2, 1 death -> S = 1/3;
    // t=2: risk 1, censored only -> S unchanged
    assert(got(0L) == ((3L, 1L, 0L, 0.666667)), s"$got")
    assert(got(1L) == ((2L, 1L, 0L, 0.333333)), s"$got")
    assert(got(2L) == ((1L, 0L, 1L, 0.333333)), s"$got")
  }

  private def eventsDir(countsByUser: Seq[(Long, Int, Int)]): String = {
    // (user, n_events, day)
    val dir = java.nio.file.Files.createTempDirectory("graft_ev").toString
    countsByUser.flatMap { case (u, n, day) =>
      (0 until n).map(i => (u * 1000 + i, new java.sql.Timestamp(
        day * 86400000L + i * 1000L), u, "view", 1.0))
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("q_stickiness hand-computed: DAU/MAU over a 2-day month") {
    // u1 active both days, u2 day 1 only: dau = (2, 1), mau = 2
    val dir = eventsDir(Seq((1L, 1, 0), (1L, 1, 1), (2L, 1, 0)))
    val r = RelationalQueries.qStickiness(spark, dir).collect()(0)
    assert(r.getLong(1) == 2 && r.getLong(2) == 2, s"$r")
    assert(r.getDouble(3) == 1.5, s"avg_dau: $r")
    assert(r.getDouble(4) == 0.75, s"stickiness = 1.5/2: $r")
  }

  test("q_power_users hand-computed: whale concentration, including the " +
      "exact partial slice at a tied crossing value") {
    // whale with 81 events + 19 singletons = 100 events, 20 users:
    // top 1% -> k=1 -> 0.81; top 10% -> k=2 -> (81+1)/100 = 0.82
    val whale = (0L, 81, 0) +: (1L to 19L).map(u => (u, 1, 0))
    val d1 = eventsDir(whale)
    val g1 = RelationalQueries.qPowerUsers(spark, d1).collect()
      .map(r => r.getInt(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(g1(1) == ((1L, 0.81)), s"$g1")
    assert(g1(10) == ((2L, 0.82)), s"$g1")
    // 5 users x 20 events each: top 10% -> k=1, but the whole value
    // group (5 users at c=20) exceeds k -> the PARTIAL slice rule
    // credits exactly k*c = 20 events -> share 0.2
    val d2 = eventsDir((1L to 5L).map(u => (u, 20, 0)))
    val g2 = RelationalQueries.qPowerUsers(spark, d2).collect()
      .map(r => r.getInt(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(g2(10) == ((1L, 0.2)), s"partial slice at the tie: $g2")
    assert(g2(1) == ((1L, 0.2)), s"ceil keeps k >= 1: $g2")
  }
}
