package graft

import org.apache.spark.sql.functions._

import graft.queries.RelationalQueries

/** Planted, hand-computed cases for the r8 profiling operators
  * (q_attribution / q_histogram / q_user_features / q_skew_audit) — the
  * AuditStatsSpec discipline: tiny inputs whose expected outputs are
  * derived by hand, independent of both engines. */
class GraphProfilingSpec extends SparkSpec {
  import spark.implicits._

  test("q_attribution hand-computed: first touch credits the journey head, " +
      "last touch the preceding event; a bare purchase credits itself") {
    val dir = java.nio.file.Files.createTempDirectory("graft_attr").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: view -> click -> purchase(10.5); user 2: purchase(2.25) alone
    Seq(
      (1L, ts(1), 1L, "view", 0.0, "{}"),
      (2L, ts(2), 1L, "click", 0.0, "{}"),
      (3L, ts(3), 1L, "purchase", 10.5, "{}"),
      (4L, ts(1), 2L, "purchase", 2.25, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = RelationalQueries.qAttribution(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toMap
    assert(got("view") == ((10.5, 1L, 0.0, 0L)), s"first touch: $got")
    assert(got("click") == ((0.0, 0L, 10.5, 1L)), s"last touch: $got")
    assert(got("purchase") == ((2.25, 1L, 2.25, 1L)),
      s"bare purchase credits itself under both models: $got")
  }

  test("q_histogram hand-computed: max value clamps into the last bin, " +
      "empty bins are real zero rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hist").toString
    // values 0 and 100 for group A; 50 for group B → bins 0, 19, 10
    Seq(("A", 0.0), ("A", 100.0), ("B", 50.0))
      .map { case (g, v) => (1L, 1L, 1L, 1, 1.0, v, 0.0, 0.0, g, "O",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = RelationalQueries.qHistogram(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got.size == 40, "dense frame: 2 groups x 20 bins")
    assert(got(("A", 0)) == 1 && got(("A", 19)) == 1,
      s"min in bin 0, max clamped to bin 19: $got")
    assert(got(("B", 10)) == 1, "50 of [0,100] lands in bin 10")
    assert(got(("A", 10)) == 0 && got(("B", 0)) == 0, "empty bins are zeros")
    assert(got.values.sum == 3)
  }

  test("q_user_features hand-computed: the 7-day range frame includes today " +
      "and excludes day-7; gaps measure active-day spacing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_uf").toString
    def ts(day: Int) = new java.sql.Timestamp(day * 86400000L)
    // user 1 active on days 0, 1, 8 (two events on day 1)
    Seq((1L, ts(0), 1L, "view", 1.0, "{}"),
      (2L, ts(1), 1L, "view", 2.0, "{}"),
      (3L, ts(1), 1L, "click", 3.0, "{}"),
      (4L, ts(8), 1L, "view", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = RelationalQueries.qUserFeatures(spark, dir).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getDouble(4),
        if (r.isNullAt(5)) -1L else r.getLong(5))).toMap
    assert(got(0L) == ((1L, 1L, 1.0, -1L)), s"day 0: $got")
    // day 1: window covers days -5..1 -> events 3, value 6
    assert(got(1L) == ((2L, 3L, 6.0, 1L)), s"day 1: $got")
    // day 8: window covers days 2..8 -> only day 8 itself; gap = 7
    assert(got(8L) == ((1L, 1L, 4.0, 7L)), s"day 8: $got")
  }

  test("q_skew_audit flags the planted hot key") {
    val dir = java.nio.file.Files.createTempDirectory("graft_skew").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 7 has 90 of 100 events — skew factor 0.9 * n_keys
    val evs = (0 until 90).map(i => (i.toLong, ts(i % 60), 7L, "view", 1.0, "{}")) ++
      (0 until 10).map(i => (100L + i, ts(i), 100L + i, "view", 1.0, "{}"))
    evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    Seq((1L, 1L, 1L, 1, 1.0, 10.0, 0.0, 0.0, "N", "O",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = RelationalQueries.qSkewAudit(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val u = got("user_id")
    assert(u.getAs[Long]("n_rows") == 100 && u.getAs[Long]("n_keys") == 11)
    assert(u.getAs[Long]("max_key_rows") == 90)
    assert(u.getAs[Double]("top_share") == 0.9)
    // skew_factor = max/avg = 90 * 11 / 100 = 9.9 — a 9.9x straggler
    assert(u.getAs[Double]("skew_factor") == 9.9, s"skew factor: $u")
  }
}
