package graft

import org.apache.spark.sql.functions._

import graft.queries.RelationalQueries

/**
 * Planted-case pins for the r7 audit/statistics operators — the
 * oracles prove Spark ≡ DuckDB; these prove both equal the MATH, on
 * inputs where the right answer is computable by hand.
 */
class AuditStatsSpec extends SparkSpec {
  import spark.implicits._

  test("q_changepoint: a planted level shift is located at the step day") {
    // series: 10/day for days 0..19, then 100/day for days 20..29 —
    // the CUSUM deviation peaks at the last pre-shift day (day 19)
    val rows = (for {
      d <- 0 until 30
      n = if (d < 20) 10 else 100
      i <- 0 until n
    } yield (d * 1000L + i, "A", new java.sql.Timestamp(86400000L * d), i.toLong, 1.0, "{}"))
      .toDF("event_id", "event_type", "ts", "user_id", "value", "props")
    val dir = "/tmp/graft-cpt"
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = RelationalQueries.qChangepoint(spark, dir).head()
    assert(got.getLong(1) == 19L, s"break must sit at the last pre-shift day: $got")
    assert(got.getInt(3) == 30)
  }
}
