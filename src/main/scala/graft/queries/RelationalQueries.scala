package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Additional relational coverage (SURVEY.md §2.6 extension): the engine
 * stays a full query layer, not just a vector index. All shapes keep
 * map-side partial aggregation and broadcast the small side.
 */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** TZ-free epoch day for `c`. DATE and TIMESTAMP_NTZ columns go
    * through a DATE truncation + `datediff` — `cast(ntz as timestamp)`
    * re-interprets the naive value in spark.sql.session.timeZone,
    * while the DuckDB oracle's epoch_us(naive) is TZ-free, so a
    * non-UTC session (especially DST zones) could shift rows across a
    * day split and break the cross-engine hash gate. TIMESTAMP columns
    * keep `unix_micros` (stored UTC micros, already TZ-free). */
  private[graft] def epochDayExpr(df: DataFrame, c: String) =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampNTZType =>
        datediff(col(c).cast(org.apache.spark.sql.types.DateType),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
      case _ => expr(s"unix_micros(cast($c as timestamp)) div 86400000000")
    }

  /** [[epochDayExpr]] for the orders table's o_orderdate (µs parquet →
    * TIMESTAMP_NTZ). */
  private def orderDay(o: DataFrame) = epochDayExpr(o, "o_orderdate")

  /** Pivot event types into columns (expressed as conditional aggs so
    * the oracle arithmetic is identical; Spark's `pivot` compiles to
    * the same shape). */
  def qPivot(s: SparkSession, dir: String): DataFrame = {
    val ev = Queries.eventsTable(s, dir)
    def cnt(tpe: String) =
      count(when(col("event_type") === tpe, 1)).as(s"n_$tpe")
    ev.groupBy(col("user_id"))
      .agg(cnt("click"), cnt("view"), cnt("purchase"))
      .orderBy(col("user_id"))
  }

  val qPivotSql: String =
    """SELECT user_id,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /**
   * As-of join: each order gets its customer's latest event at or
   * before the order date. Equi-join on the key + window top-1 — the
   * shuffle is on the join key, so it scales like any sort-merge join;
   * the per-order "latest" is a per-group heap, not a range scan.
   */
  def qAsof(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val ev = Queries.eventsTable(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val joined = ord.join(ev,
      ord("o_custkey") === ev("user_id") && ev("ts") <= ord("o_orderdate"),
      "left")
    val w = Window.partitionBy(col("o_orderkey"))
      .orderBy(col("ts").desc_nulls_last, col("event_type").asc_nulls_last)
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("asof_ts"),
        col("event_type"))
      .orderBy(col("o_orderkey"))
  }

  val qAsofSql: String =
    """SELECT o_orderkey, o_custkey,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS asof_ts, event_type
      |FROM (
      |  SELECT o_orderkey, o_custkey, ts, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderkey
      |      ORDER BY ts DESC NULLS LAST, event_type ASC NULLS LAST) AS rn
      |  FROM (SELECT o_orderkey, o_custkey, o_orderdate FROM orders
      |        WHERE o_orderkey % 100 = 0) o
      |  LEFT JOIN events e ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate)
      |WHERE rn = 1
      |ORDER BY o_orderkey""".stripMargin

  /**
   * The same as-of semantics through [[graft.operators.AsofJoin]] — one
   * shuffle per side, per-key binary search, NO |orders|×|events| row
   * explosion. Shares q_asof's oracle (results must be identical).
   */
  def qAsofFast(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val ev = Queries.eventsTable(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    graft.operators.AsofJoin.join(ord, ev,
        leftKey = "o_custkey", rightKey = "user_id",
        leftTs = "o_orderdate", rightTs = "ts")
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("asof_ts"),
        col("event_type"))
      .orderBy(col("o_orderkey"))
  }

  /**
   * Forward as-of with a tolerance — "the customer's NEXT event within
   * a day of the order" (merge_asof direction='forward',
   * tolerance=1d): the same one-shuffle union-window plan as
   * [[qAsofFast]], on negated micros, with matches beyond the
   * tolerance nulled exactly (the window pick is the nearest, so
   * nothing closer can exist).
   */
  def qAsofForward(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val ev = Queries.eventsTable(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    graft.operators.AsofJoin.join(ord, ev,
        leftKey = "o_custkey", rightKey = "user_id",
        leftTs = "o_orderdate", rightTs = "ts",
        direction = "forward", toleranceUs = Some(86400L * 1000000L))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("asof_ts"),
        col("event_type"))
      .orderBy(col("o_orderkey"))
  }

  /**
   * Nearest as-of — "the customer's event closest in time to the
   * order, either side" (merge_asof direction='nearest'): both
   * directional picks come from ONE shuffle (two windows over the same
   * key partitioning), ties prefer the backward match.
   */
  def qAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val ev = Queries.eventsTable(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    graft.operators.AsofJoin.join(ord, ev,
        leftKey = "o_custkey", rightKey = "user_id",
        leftTs = "o_orderdate", rightTs = "ts",
        direction = "nearest")
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("asof_ts"),
        col("event_type"))
      .orderBy(col("o_orderkey"))
  }

  /** Nearest = min |Δt|; equidistant → backward (smaller ts); equal-time
    * rights → smallest payload. The ORDER BY encodes exactly that. */
  val qAsofNearestSql: String =
    """SELECT o_orderkey, o_custkey,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS asof_ts, event_type
      |FROM (
      |  SELECT o_orderkey, o_custkey, ts, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderkey
      |      ORDER BY abs(epoch_us(ts::TIMESTAMP) - epoch_us(o_orderdate::TIMESTAMP)) ASC NULLS LAST,
      |               ts ASC NULLS LAST, event_type ASC NULLS LAST) AS rn
      |  FROM (SELECT o_orderkey, o_custkey, o_orderdate FROM orders
      |        WHERE o_orderkey % 100 = 0) o
      |  LEFT JOIN events e ON o.o_custkey = e.user_id)
      |WHERE rn = 1
      |ORDER BY o_orderkey""".stripMargin

  val qAsofForwardSql: String =
    """SELECT o_orderkey, o_custkey,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS asof_ts, event_type
      |FROM (
      |  SELECT o_orderkey, o_custkey, ts, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderkey
      |      ORDER BY ts ASC NULLS LAST, event_type ASC NULLS LAST) AS rn
      |  FROM (SELECT o_orderkey, o_custkey, o_orderdate FROM orders
      |        WHERE o_orderkey % 100 = 0) o
      |  LEFT JOIN events e ON o.o_custkey = e.user_id
      |    AND e.ts >= o.o_orderdate
      |    AND e.ts <= o.o_orderdate + INTERVAL 1 DAY)
      |WHERE rn = 1
      |ORDER BY o_orderkey""".stripMargin

  /**
   * Cohort retention — the classic product-analytics matrix: users
   * bucketed by first-seen week, activity counted per (cohort week,
   * weeks since). Scale shape: first-seen is ONE shuffle by user_id
   * and the join back to events reuses that partitioning (no second
   * user shuffle); the per-user weekly activity collapses via DISTINCT
   * on compact integer keys before the final small aggregation — at
   * 100 TB of events the wide data never moves more than once.
   */
  def retention(events: DataFrame): DataFrame = {
    val wk = (c: String) => expr(s"unix_micros($c) DIV 604800000000")
    val firstSeen = events.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
    events.select(col("user_id"), col("ts")).join(firstSeen, "user_id")
      .select(col("user_id"), wk("first_ts").as("cohort_week"),
        (wk("ts") - wk("first_ts")).as("weeks_since"))
      .distinct()
      .groupBy(col("cohort_week"), col("weeks_since"))
      .agg(count(lit(1)).as("active_users"))
      .orderBy(col("cohort_week"), col("weeks_since"))
  }

  def qRetention(s: SparkSession, dir: String): DataFrame =
    retention(Queries.eventsTable(s, dir).select(col("user_id"), col("ts")))

  val qRetentionSql: String =
    """WITH fs AS (
      |  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
      |a AS (
      |  SELECT DISTINCT e.user_id,
      |    epoch_us(fs.first_ts::TIMESTAMP) // 604800000000 AS cohort_week,
      |    epoch_us(e.ts::TIMESTAMP) // 604800000000
      |      - epoch_us(fs.first_ts::TIMESTAMP) // 604800000000 AS weeks_since
      |  FROM events e JOIN fs USING (user_id))
      |SELECT cohort_week, weeks_since, count(*) AS active_users
      |FROM a
      |GROUP BY cohort_week, weeks_since
      |ORDER BY cohort_week, weeks_since""".stripMargin

  /**
   * CUSUM change-point detection per series — WHERE did the level
   * shift? (`q_anomaly` flags outlier hours; `q_trend` fits the
   * drift; this finds the structural break): the day maximizing
   * `|Σ_{t≤d}(x_t − x̄)|`, the classic cumulative-sum statistic whose
   * peak sits at the distribution change. All sums in exact integers
   * (counts × n avoids the mean's division: the statistic is
   * equivalently `|n·Σ_{t≤d}x_t − d'·Σx|` with d' = rank), so the
   * argmax is a pure long comparison, deterministic and replayable —
   * ties to the earliest day. One day-collapse exchange, one
   * series-keyed running window over the days-sized frame.
   */
  def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Queries.eventsTable(s, dir)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy(col("event_type"), col("d")).agg(count(lit(1)).as("x"))
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val wAll = Window.partitionBy(col("event_type"))
    val scored = daily
      .withColumn("rk", row_number().over(wRun))
      .withColumn("cum", sum(col("x")).over(wRun))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("x")).over(wAll))
      // |n·cum − rk·tot| — the integer-exact CUSUM deviation at day d
      .withColumn("dev", abs(col("n") * col("cum") - col("rk") * col("tot")))
    val pick = Window.partitionBy(col("event_type"))
      .orderBy(col("dev").desc, col("d"))
    scored
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("d").as("changepoint_day"),
        col("dev").as("cusum_dev"), col("n").cast("int").as("n_days"))
      .orderBy(col("event_type"))
  }

  val qChangepointSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS d, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |sc AS (
      |  SELECT event_type, d,
      |    row_number() OVER (PARTITION BY event_type ORDER BY d) AS rk,
      |    SUM(x) OVER (PARTITION BY event_type ORDER BY d) AS cum,
      |    count(*) OVER (PARTITION BY event_type) AS n,
      |    SUM(x) OVER (PARTITION BY event_type) AS tot
      |  FROM daily),
      |dev AS (
      |  SELECT event_type, d, abs(n * cum - rk * tot) AS dev, n,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY abs(n * cum - rk * tot) DESC, d) AS rn
      |  FROM sc)
      |-- CAST: DuckDB widens SUM(BIGINT) to HUGEINT, which pandas reads
      |-- as float64; the value fits bigint comfortably (n·cum ≤ days·rows)
      |SELECT event_type, d AS changepoint_day, CAST(dev AS BIGINT) AS cusum_dev,
      |  CAST(n AS INT) AS n_days
      |FROM dev WHERE rn = 1
      |ORDER BY event_type""".stripMargin

  /** Cardinality sketching — the registered engine default (r8: the
    * gate's last rows-only rows retired): distinct users per group
    * estimated by the KMV bottom-k sketch ([[qKmvDistinct]]'s exact
    * machinery — k doubles of mergeable state per group, map-side
    * partial aggregation, the distinct-value stream never shuffles),
    * next to the exact count for calibration. Every column replays in
    * DuckDB, so the row is a full hash gate; [[qApproxDistinctHll]]
    * keeps Spark's HLL++ as the documented engine-native alternative
    * (identical scale contract; register banks are engine-specific
    * bits, so it stays spec-bounded rather than gate-registered). */
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    qKmvDistinct(s, dir)
      .join(Queries.eventsTable(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users")),
        Seq("event_type"))
      .orderBy(col("event_type"))

  lazy val qApproxDistinctSql: String =
    s"""SELECT k.event_type, k.est_users, x.exact_users
       |FROM ($qKmvDistinctSql) k
       |JOIN (SELECT event_type, count(DISTINCT user_id) AS exact_users
       |      FROM events GROUP BY event_type) x USING (event_type)
       |ORDER BY event_type""".stripMargin

  /** Spark's HLL++ estimate — the engine-native alternative to the
    * registered KMV default (same no-value-shuffle scale shape;
    * spec-bounded at 2 % against the exact count). */
  def qApproxDistinctHll(s: SparkSession, dir: String): DataFrame =
    Queries.eventsTable(s, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderBy(col("event_type"))

  /**
   * KMV distinct-count sketch per group — the ORACLE-ABLE sibling of
   * [[qApproxDistinct]] (HLL register banks are engine-specific bits,
   * so that key is rows-only by declaration; a bottom-k sketch is just
   * the k smallest distinct hash values, which DuckDB rebuilds exactly
   * with a sort). Same scale contract as HLL: the
   * [[graft.functions.KmvBottomK]] aggregate carries ≤ k doubles of
   * state per group through map-side partial aggregation — the shuffle
   * never sees a distinct VALUE stream, unlike `countDistinct` whose
   * exchange is the distinct-user set itself. Estimate: exact count
   * below k (the sketch holds every distinct hash), else `(k−1)/u_k`
   * (Beyer et al. SIGMOD'07), floor-rounded to 2 dp in IDENTICAL
   * double arithmetic in both engines.
   */
  def qKmvDistinct(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    graft.functions.registerAll(s)
    val u = PipelineQueries.hashUniform(col("user_id").cast("string"))
    Queries.eventsTable(s, dir)
      .select(col("event_type"), u.as("u"))
      .groupBy(col("event_type"))
      .agg(graft.functions.kmv_bottomk(col("u"), k).as("sk"))
      .select(col("event_type"),
        floor((when(size(col("sk")) < k, size(col("sk")).cast("double"))
            .otherwise(lit((k - 1).toDouble) / element_at(col("sk"), k)))
          * 100.0 + 0.5) / 100.0)
      .toDF("event_type", "est_users")
      .orderBy(col("event_type"))
  }

  /**
   * Cumulative distinct users TO DATE per day — the MERGEABILITY
   * payoff of the KMV family: each day's bounded sketch (≤ k doubles,
   * partial-aggregated map-side) is computed ONCE, and the running
   * "users to date" curve is a driver-side FOLD of the per-day
   * sketches (bottom-k of a union equals bottom-k of the union of
   * bottom-ks — the algebraic property HLL needs register banks for,
   * here visible as a 64-double set merge). The fold is bounded by
   * calendar days, never corpus size; an exact running distinct would
   * re-scan an ever-growing prefix per day or keep the full user set
   * in one state. Exact below k, `(k−1)/u_k` above — and the whole
   * curve hash-matches, because the oracle rebuilds each day's merged
   * sketch as the bottom-k over users first seen ≤ d.
   */
  def qKmvCumulative(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    graft.functions.registerAll(s)
    val u = PipelineQueries.hashUniform(col("user_id").cast("string"))
    val daily = Queries.eventsTable(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"), u.as("u"))
      .groupBy(col("d"))
      .agg(graft.functions.kmv_bottomk(col("u"), k).as("sk"))
      .orderBy(col("d"))
      .collect() // bounded by calendar days (the q_ewma series argument)
    val merged = new java.util.TreeSet[java.lang.Double]()
    val out = daily.map { r =>
      r.getSeq[Double](1).foreach { v =>
        merged.add(v); if (merged.size > k) { merged.remove(merged.last()); () }
      }
      val m = merged.size
      val est =
        if (m < k) m.toDouble
        else (k - 1).toDouble / merged.last()
      (r.getLong(0), math.floor(est * 100.0 + 0.5) / 100.0)
    }
    import s.implicits._
    out.toSeq.toDF("d", "est_users_to_date").orderBy(col("d"))
  }

  /** Each day's merged sketch = bottom-k over users FIRST SEEN ≤ d
    * (bottom-k of a union ≡ bottom-k of merged bottom-ks). */
  lazy val qKmvCumulativeSql: String = {
    val toSigned = DedupQueries.toSignedSql
    s"""WITH ev AS (
       |  SELECT CAST(user_id AS VARCHAR) AS tk,
       |    epoch_us(ts) // 86400000000 AS d
       |  FROM events),
       |fd AS (SELECT tk, min(d) AS fd FROM ev GROUP BY tk),
       |tok AS (SELECT DISTINCT tk FROM fd),
       |${DedupQueries.xxHashTokenCtes},
       |us AS (
       |  SELECT fd.fd,
       |    GREATEST(LEAST(
       |      CAST($toSigned AS DOUBLE) / 18446744073709551616.0 + 0.5,
       |      0.9999999999999999), 5.421010862427522e-20) AS u
       |  FROM fd JOIN hashed USING (tk)),
       |-- a (cosmically unlikely) u collision across users merges in the
       |-- sketch set: mirror it by keying distinct u at its earliest day
       |us2 AS (SELECT u, min(fd) AS fd FROM us GROUP BY u),
       |days AS (SELECT DISTINCT d FROM ev),
       |ranked AS (
       |  SELECT days.d, us2.u,
       |    row_number() OVER (PARTITION BY days.d ORDER BY us2.u) AS rn,
       |    count(*) OVER (PARTITION BY days.d) AS m
       |  FROM days JOIN us2 ON us2.fd <= days.d)
       |SELECT d,
       |  FLOOR((CASE WHEN min(m) < 64 THEN CAST(min(m) AS DOUBLE)
       |         ELSE 63.0 / max(CASE WHEN rn = 64 THEN u END) END)
       |        * 100.0 + 0.5) / 100.0 AS est_users_to_date
       |FROM ranked
       |GROUP BY d
       |ORDER BY d""".stripMargin
  }

  /** The sketch replayed whole in SQL: distinct users → the identical
    * clamped uniform hash → per-group bottom-64 order statistics →
    * the same estimator and floor rounding. A hash gate on an
    * "approximate" operator — the approximation is deterministic. */
  lazy val qKmvDistinctSql: String = {
    val toSigned = DedupQueries.toSignedSql
    s"""WITH du AS (
       |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS tk FROM events),
       |tok AS (SELECT DISTINCT tk FROM du),
       |${DedupQueries.xxHashTokenCtes},
       |us AS (
       |  SELECT du.event_type,
       |    GREATEST(LEAST(
       |      CAST($toSigned AS DOUBLE) / 18446744073709551616.0 + 0.5,
       |      0.9999999999999999), 5.421010862427522e-20) AS u
       |  FROM du JOIN hashed USING (tk)),
       |sk AS (
       |  SELECT event_type, u,
       |    row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM (SELECT DISTINCT event_type, u FROM us))
       |SELECT event_type,
       |  FLOOR((CASE WHEN min(n) < 64 THEN CAST(min(n) AS DOUBLE)
       |         ELSE 63.0 / max(CASE WHEN rn = 64 THEN u END) END)
       |        * 100.0 + 0.5) / 100.0 AS est_users
       |FROM sk
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin
  }

  /**
   * Interval (time-window) join WITHOUT an equi key: each sampled order
   * counts/sums ALL events within ±1 h of its order date, any user.
   * A naive `ON ts BETWEEN lo AND hi` is a pure inequality join —
   * Spark can only BroadcastNestedLoop it, O(|orders|·|events|) at
   * scale. The scale-correct plan is TIME BINNING: events get an hour
   * bin (pure map), each order explodes to its 3 covering bins (the
   * ±1 h window spans at most 3 hour bins, exactly — bin(t±1h) =
   * bin(t)±1 in integer micros), the join becomes an EQUI join on the
   * bin, and the exact window filter runs on the joined pairs. Each
   * event shuffles once; each order 3×; no nested loop anywhere. Hot
   * bins (event bursts) are the residual skew hazard — AQE's skew
   * split composes on top when needed.
   */
  def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    // o_orderdate is TIMESTAMP_NTZ in the parquet; the session runs in
    // UTC, so the cast to (ltz) timestamp is micros-identical to
    // DuckDB's ntz arithmetic
    val ord = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"))
    val ev = Queries.eventsTable(s, dir)
      .select(unix_micros(col("ts")).as("e_us"), col("value"))
    intervalJoinBinned(ord, ev, 3600L * 1000000L)
  }

  /** The binned-join core of [[qIntervalJoin]] on raw micro frames
    * `(o_orderkey, o_us)` × `(e_us, value)` — exposed so specs can
    * drive the production binning directly (boundaries, pre-epoch). */
  private[graft] def intervalJoinBinned(ord: DataFrame, ev: DataFrame,
      binUs: Long): DataFrame = {
    // FLOOR division, not DIV: DIV truncates toward zero, so pre-epoch
    // (negative-micros) timestamps bin non-uniformly around zero —
    // bin(t±1h) ≠ bin(t)±1 at the boundary. Pure integer math (a
    // double quotient loses exactness for far-future micros): DIV,
    // minus 1 when the (sign-following) remainder is negative.
    def bin(name: String): Column = {
      val q = expr(s"$name DIV $binUs")
      when(expr(s"$name % $binUs") < 0, q - 1).otherwise(q)
    }
    val evB = ev.withColumn("bin", bin("e_us"))
    val ordBinned = ord
      .withColumn("bin", explode(array(
        bin("o_us") - 1, bin("o_us"), bin("o_us") + 1)))
    val matched = ordBinned.join(evB, Seq("bin"))
      .filter(col("e_us") >= col("o_us") - binUs && col("e_us") <= col("o_us") + binUs)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("sum_value"))
    ord.select(col("o_orderkey"))
      .join(matched, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0).cast("decimal(18,4)"))
          .cast("double").as("sum_value"))
      .orderBy(col("o_orderkey"))
  }

  /** The same window as a plain inequality join — fine for DuckDB at
    * oracle scale, the nested-loop shape the binned plan replaces. */
  val qIntervalJoinSql: String =
    """SELECT o.o_orderkey,
      |  COUNT(e.ts) AS n_events,
      |  CAST(coalesce(SUM(CAST(e.value AS DECIMAL(18,4))), 0) AS DOUBLE) AS sum_value
      |FROM (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey % 100 = 0) o
      |LEFT JOIN events e
      |  ON e.ts >= o.o_orderdate - INTERVAL 1 HOUR
      | AND e.ts <= o.o_orderdate + INTERVAL 1 HOUR
      |GROUP BY o.o_orderkey
      |ORDER BY o.o_orderkey""".stripMargin

  // -------------------------------------------------------------------------
  // Z-order (Morton) clustering key — multi-dimensional data layout
  // -------------------------------------------------------------------------

  /** Bit-spread of a 16-bit value into even bit positions (the Morton
    * half-interleave), as a Column expression — 16 codegen'd integer
    * ops, no UDF. */
  private def spread16(x: Column): Column =
    (0 until 16).map(i => shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i))
      .reduce(_ bitwiseOR _)

  /** 16-bit fixed-point quantizer over [mn, mx] — floor to long, clamp. */
  private def quant16(x: Column, mn: Double, span: Double): Column =
    if (span <= 0) lit(0L)
    else least(greatest(floor((x - lit(mn)) / lit(span) * lit(65536.0)), lit(0L)),
      lit(65535L))

  /** The generic 2-dimension Morton key over double columns: quantize
    * each dimension to 16 bits over [min, min + span] and interleave the
    * bits, so every z-range file covers a rectangle in (a, b) space.
    * [[graft.index.SemanticIndex.saveZordered]] range-writes by it. */
  private[graft] def zKey2(a: Column, b: Column, aMin: Double, aSpan: Double,
      bMin: Double, bSpan: Double): Column =
    spread16(quant16(a, aMin, aSpan))
      .bitwiseOR(shiftleft(spread16(quant16(b, bMin, bSpan)), 1))

  // -------------------------------------------------------------------------
  // Ordered-funnel conversion
  // -------------------------------------------------------------------------

  /**
   * Strict-order funnel view → click → purchase: a user is at stage k
   * only if the k-th event type occurs strictly AFTER their first
   * qualifying stage-(k−1) event. The product-analytics conversion
   * query, and the ordered complement of `q_retention` (which counts
   * unordered return visits).
   *
   * Scale design (r7 — the r6 shape was 3 per-stage aggregations + 2
   * user-keyed joins = 5 corpus-row exchanges): the whole funnel is
   * ONE exchange. Events hash-partition by user once; two stacked
   * Window operators over the SAME (user_id, ts RANGE) spec — so one
   * sort, no second exchange — compute the running first-view and
   * first-qualifying-click timestamps, and a row qualifies for stage k
   * exactly when the stage-(k−1) running min is strictly before it
   * (range frames make ties deterministic: a click at the same
   * instant as the first view does NOT convert, same as the join
   * formulation's `ts > vt`). The per-user stage flags then reduce in
   * a groupBy(user_id) that REUSES the window's partitioning — zero
   * additional exchange (plan-audited in PlanAuditSpec) — and three
   * global sums produce the step rows. Running min over a superset
   * argument: the user's GLOBAL first view equals the running min at
   * any later row, and rows at-or-before it fail the strict
   * inequality either way, so the rewrite is value-identical to the
   * join form (same DuckDB oracle).
   */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Queries.eventsTable(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val withVt = ev.withColumn("vt_run",
      min(when(col("event_type") === "view", col("ts"))).over(w))
    val isClick = col("event_type") === "click" && col("vt_run") < col("ts")
    val withCt = withVt.withColumn("ct_run",
      min(when(isClick, col("ts"))).over(w))
    val isPurchase = col("event_type") === "purchase" && col("ct_run") < col("ts")
    val perUser = withCt.groupBy(col("user_id")).agg(
      max(when(col("event_type") === "view", 1).otherwise(0)).as("v"),
      max(when(isClick, 1).otherwise(0)).as("c"),
      max(when(isPurchase, 1).otherwise(0)).as("p"))
    perUser.agg(coalesce(sum(col("v")), lit(0L)).as("nv"),
        coalesce(sum(col("c")), lit(0L)).as("nc"),
        coalesce(sum(col("p")), lit(0L)).as("np"))
      .select(explode(array(
        struct(lit("1_view").as("step"), col("nv").cast("long").as("users")),
        struct(lit("2_click").as("step"), col("nc").cast("long").as("users")),
        struct(lit("3_purchase").as("step"), col("np").cast("long").as("users")))))
      .select(col("col.step").as("step"), col("col.users").as("users"))
      .orderBy(col("step"))
  }

  val qFunnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS vt FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS ct
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.vt GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS pt
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.ct GROUP BY 1)
      |SELECT step, users FROM (
      |  SELECT '1_view' AS step, count(*) AS users FROM v
      |  UNION ALL SELECT '2_click', count(*) FROM c
      |  UNION ALL SELECT '3_purchase', count(*) FROM p)
      |ORDER BY step""".stripMargin

  // -------------------------------------------------------------------------
  // SCD2 history-preserving upsert
  // -------------------------------------------------------------------------

  /**
   * Slowly-changing-dimension type 2 merge over a re-crawled corpus:
   * epoch-0 snapshot + an epoch-1 update batch (re-crawled texts for
   * doc_id % 7, brand-new docs for doc_id % 13), producing one row per
   * VERSION with `[valid_from, valid_to]` and a current flag — the
   * history-preserving upsert every incremental corpus (and every
   * lakehouse dimension table) needs: yesterday's training run can
   * still reconstruct yesterday's corpus.
   *
   * Scale design: the merge is a union + a `lead` window PARTITIONED BY
   * KEY — per-key state is the version count (≤ 2 here, bounded by
   * re-crawl frequency in general), never corpus-sized, and the single
   * shuffle is the key partitioning an incremental store would already
   * have (a bucketed layout makes it free). Contrast
   * `dedup_incremental`, which DROPS superseded rows — SCD2 keeps them
   * addressable by interval.
   */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = docs.select(col("doc_id"), col("text"), lit(0).as("epoch"))
    val recrawl = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"), lit(1).as("epoch"))
    val fresh = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), lit(1).as("epoch"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("epoch"))
    base.union(recrawl).union(fresh)
      .select(col("doc_id"), col("epoch").as("valid_from"),
        coalesce(lead(col("epoch"), 1).over(w) - 1, lit(2147483647)).as("valid_to"),
        lead(col("epoch"), 1).over(w).isNull.as("is_current"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"), col("valid_from"))
  }

  val qScd2Sql: String =
    """WITH base AS (SELECT doc_id, text, 0 AS epoch FROM documents),
      |recrawl AS (
      |  SELECT doc_id, text || ' v2' AS text, 1 AS epoch
      |  FROM documents WHERE doc_id % 7 = 0),
      |fresh AS (
      |  SELECT doc_id + 1000000 AS doc_id, text, 1 AS epoch
      |  FROM documents WHERE doc_id % 13 = 0),
      |allv AS (
      |  SELECT * FROM base UNION ALL SELECT * FROM recrawl
      |  UNION ALL SELECT * FROM fresh)
      |SELECT doc_id, epoch AS valid_from,
      |  COALESCE(lead(epoch) OVER (PARTITION BY doc_id ORDER BY epoch) - 1,
      |           2147483647) AS valid_to,
      |  lead(epoch) OVER (PARTITION BY doc_id ORDER BY epoch) IS NULL AS is_current,
      |  md5(text) AS text_md5
      |FROM allv
      |ORDER BY doc_id, valid_from""".stripMargin

  // -------------------------------------------------------------------------
  // Skyline (Pareto frontier)
  // -------------------------------------------------------------------------

  /**
   * Skyline of (minimize price, maximize recency) over orders — the
   * Pareto frontier ("no other order is both cheaper and more
   * recent"), Börzsönyi et al. ICDE 2001. Output is the skyline SET of
   * distinct (price, us) points, which is unique regardless of
   * partitioning — the property that makes the distributed plan safe.
   *
   * Scale design — the two-phase mergeable-skyline plan: phase 1 runs
   * the sort-sweep INSIDE each partition (`sortWithinPartitions` — a
   * local sort, no exchange — then an O(1)-state streaming sweep that
   * keeps a row iff its `us` beats the running max of every
   * strictly-cheaper predecessor); each partition's skyline is
   * expected-O(log n) for random data, and the global skyline is a
   * subset of the union of partition skylines, so phase 2 repeats the
   * same sweep over that tiny survivor set in one task. ZERO hash
   * exchanges touch the corpus (spec-asserted — the tempting
   * window-over-`spark_partition_id()` formulation silently forces an
   * Exchange on the partition id); a single global sort-window over
   * the corpus — the naive formulation — never happens. The oracle is
   * the O(n²) NOT-EXISTS dominance test: the sweep must reproduce the
   * definition exactly.
   */
  def qSkyline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = t(s, dir, "orders").select(
      col("o_totalprice").as("price"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("us"))
      .as[(Double, Long)]

    // O(1)-state sweep over a (price asc, us desc)-sorted partition:
    // keep a point iff its us beats the running max — imperative
    // per-partition logic, the documented mapPartitions niche (a window
    // over spark_partition_id() would force an Exchange on the
    // partition id, which is exactly the shuffle this plan exists to
    // avoid; measured, not assumed — see SkylineDriftSpec's plan test)
    def sweep(ds: org.apache.spark.sql.Dataset[(Double, Long)]) =
      // sort keys by position: the typed view keeps the input's names
      // on the first pass (price, us) and tuple names (_1, _2) after
      ds.sortWithinPartitions(col(ds.columns(0)).asc, col(ds.columns(1)).desc)
        .mapPartitions { it =>
          var m = Long.MinValue
          it.flatMap { case (p, u) =>
            if (u > m) { m = u; Iterator.single((p, u)) } else Iterator.empty
          }
        }

    sweep(sweep(pts).repartition(1))
      .toDF("price", "us")
      .select(round(col("price"), 2).as("price"), col("us"))
      .orderBy(col("price"), col("us"))
  }

  /** Oracle = the dominance DEFINITION, not the sweep: q dominates p
    * iff q is ≤ on both dims and strictly better on one. */
  val qSkylineSql: String =
    """WITH pts AS (
      |  SELECT DISTINCT o_totalprice AS price, epoch_us(o_orderdate) AS us
      |  FROM orders)
      |SELECT ROUND(price, 2) AS price, us
      |FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.price <= p.price AND q.us >= p.us
      |    AND (q.price < p.price OR q.us > p.us))
      |ORDER BY price, us""".stripMargin

  // -------------------------------------------------------------------------
  // RFM segmentation
  // -------------------------------------------------------------------------

  /**
   * RFM (recency / frequency / monetary) quintile segmentation per
   * user — the standard value-segmentation frame (Hughes 1994) and a
   * template for any per-entity multi-metric quantile bucketing.
   * One partial-aggregated groupBy produces the per-user scalars, then
   * quintile buckets per metric. DETERMINISM: ntile is
   * order-sensitive under ties, so every ranking orders by
   * (metric, user_id) — the same total order in both engines; without
   * the id tiebreak this query could never hash-match.
   *
   * Scale (r8 — the r7 shape used three unpartitioned `ntile(5)`
   * windows, each a single-task sort of the entity frame; Spark does
   * NOT range-partition an unpartitioned Window): the per-user frame
   * explodes to (metric, −value, user_id) rows and ONE
   * range-partitioned rank pass
   * ([[graft.operators.PrefixSum.runningSum]] of a constant 1, keyed
   * by metric — a giant metric spans partitions) replaces all three
   * windows; ntile is then pure integer arithmetic on (rank, n):
   * the first n mod 5 buckets take ⌈n/5⌉ rows, the rest ⌊n/5⌋ —
   * exactly SQL ntile's row allocation, replayed from rank with two
   * integer divisions. Negation turns the DESC metric order into the
   * ASC sort runningSum produces; recency (µs < 2⁵³) and counts are
   * exact in double, so the order is unchanged. No Window appears in
   * the plan (plan-audit-pinned).
   */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    val perUser = Queries.eventsTable(s, dir)
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("recency_us"),
        count(lit(1)).as("frequency"),
        // decimal partial sums: order-independent, so the 4-dp round
        // can never land on an engine-dependent tie (the dsum rule)
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
          .as("monetary"))
    val exploded = perUser.select(col("user_id"),
        explode(array(
          struct(lit("r").as("met"), (-col("recency_us").cast("double")).as("v")),
          struct(lit("f").as("met"), (-col("frequency").cast("double")).as("v")),
          struct(lit("m").as("met"), (-col("monetary")).as("v")))).as("e"))
      .select(col("e.met").as("met"), col("e.v").as("v"), col("user_id"))
      .withColumn("one", lit(1L))
    val ranked = graft.operators.PrefixSum
      .runningSum(exploded, Seq("met"), Seq("v", "user_id"), "one", "rk")
    // per-metric row counts: a 3-row frame off the ranked scan
    val ns = ranked.groupBy(col("met")).agg(count(lit(1)).as("n"))
    // SQL ntile(5) replayed from rank: q=⌊n/5⌋, r=n mod 5; ranks
    // ≤ r·(q+1) fall in the first r (size q+1) buckets, the rest in
    // size-q buckets. greatest(q,1) keeps the unreached divisor legal
    // when n < 5 (then every rank takes the first branch).
    val bucketed = ranked.join(broadcast(ns), Seq("met"))
      .withColumn("q", expr("n div 5"))
      .withColumn("rm", col("n") % 5)
      // `div` (integer division), never `/` — long `/` is double
      // division in Spark and would round ⌈rk/(q+1)⌉ at scale
      .withColumn("bucket", expr(
        "CASE WHEN rk <= rm * (q + 1) THEN (rk + q) div (q + 1) " +
        "ELSE rm + (rk - rm * (q + 1) + greatest(q, 1) - 1) div greatest(q, 1) END"))
    val buckets = bucketed
      .groupBy(col("user_id"))
      .agg(max(when(col("met") === "r", col("bucket"))).cast("int").as("r"),
        max(when(col("met") === "f", col("bucket"))).cast("int").as("f"),
        max(when(col("met") === "m", col("bucket"))).cast("int").as("m"))
    perUser.join(buckets, Seq("user_id"))
      .select(col("user_id"), col("recency_us"), col("frequency"),
        col("monetary"), col("r"), col("f"), col("m"))
      .orderBy(col("user_id"))
  }

  val qRfmSql: String =
    """WITH pu AS (
      |  SELECT user_id, max(epoch_us(ts)) AS recency_us,
      |    count(*) AS frequency,
      |    ROUND(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS monetary
      |  FROM events GROUP BY user_id)
      |SELECT user_id, recency_us, frequency, monetary,
      |  ntile(5) OVER (ORDER BY recency_us DESC, user_id) AS r,
      |  ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f,
      |  ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m
      |FROM pu
      |ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------------
  // CDC changelog between corpus epochs
  // -------------------------------------------------------------------------

  /**
   * Change-data-capture diff between two corpus epochs — the
   * changelog complement of [[qScd2]]'s history table: epoch 1 drops
   * doc_id % 11 = 3 (takedowns), rewrites doc_id % 7 = 0 (re-crawls)
   * and adds fresh ids; the diff emits one I/U/D row per changed key
   * and NOTHING for unchanged keys (at 100 TB the changelog is the
   * small output; full-snapshot comparison jobs ship it downstream
   * instead of the snapshots).
   *
   * Scale: hashes project each side to (key, 16 B) BEFORE the
   * key-partitioned full-outer join — text never shuffles (the dedup
   * discipline); unchanged keys are filtered map-side after the join.
   */
  def qCdc(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val e0 = docs.select(col("doc_id"), md5(col("text")).as("old_md5"))
    val e1full = docs.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .union(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val e1 = e1full.select(col("doc_id"), md5(col("text")).as("new_md5"))
    e0.join(e1, Seq("doc_id"), "full_outer")
      .withColumn("op",
        when(col("old_md5").isNull, "I")
          .when(col("new_md5").isNull, "D")
          .when(col("old_md5") =!= col("new_md5"), "U"))
      .filter(col("op").isNotNull)
      .select(col("doc_id"), col("op"), col("old_md5"), col("new_md5"))
      .orderBy(col("doc_id"))
  }

  val qCdcSql: String =
    """WITH e0 AS (SELECT doc_id, md5(text) AS old_md5 FROM documents),
      |e1 AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS new_md5
      |  FROM documents WHERE doc_id % 11 <> 3
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS new_md5
      |  FROM documents WHERE doc_id % 13 = 0),
      |d AS (
      |  SELECT COALESCE(e0.doc_id, e1.doc_id) AS doc_id, old_md5, new_md5,
      |    CASE WHEN old_md5 IS NULL THEN 'I'
      |         WHEN new_md5 IS NULL THEN 'D'
      |         WHEN old_md5 <> new_md5 THEN 'U' END AS op
      |  FROM e0 FULL OUTER JOIN e1 USING (doc_id))
      |SELECT doc_id, op, old_md5, new_md5
      |FROM d WHERE op IS NOT NULL
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Semi-structured (JSON) column handling
  // -------------------------------------------------------------------------

  /**
   * JSON payload extraction without a UDF: `events.props` carries a
   * JSON object; `get_json_object` is a codegen'd native expression,
   * so parsing runs at scan speed inside the same whole-stage pipeline
   * as the aggregation — the semi-structured-column discipline at
   * 100 TB (schema-on-read for the long tail of properties, no Python
   * round-trip, no exploded side table). Distribution of the extracted
   * key per event type: the shuffle carries (type, k, partial count).
   */
  def qJson(s: SparkSession, dir: String): DataFrame =
    Queries.eventsTable(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("k"))

  val qJsonSql: String =
    """SELECT event_type,
      |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      |  count(*) AS n
      |FROM events
      |GROUP BY event_type, k
      |ORDER BY event_type, k NULLS FIRST""".stripMargin

  // -------------------------------------------------------------------------
  // Pairwise source overlap (mirror detection)
  // -------------------------------------------------------------------------

  /**
   * Corpus-level source-similarity matrix: exact Jaccard of the
   * DISTINCT-token vocabularies of every source pair — how mirrored
   * sources, syndicated feeds and scraped copies of the same site show
   * up at corpus level (the aggregate complement of per-document
   * dedup: `dedup_minhash` finds copied DOCUMENTS, this finds copied
   * SOURCES).
   *
   * Scale design: the corpus collapses to the distinct (source, token)
   * frame FIRST (one partial-agg shuffle; Zipf keeps it vocab-sized ×
   * sources, tiny vs the corpus); the pair intersection is a
   * token-keyed self-join of that frame — never of the corpus — and
   * per-source set sizes broadcast back onto the pair counts. When
   * even the vocabulary frame outgrows a join, the engine's MinHash
   * signatures ([[graft.queries.DedupQueries]] kernels) estimate the
   * same matrix from 64 longs per source; the exact form is the oracle
   * anchor. Output: every source pair with Jaccard ≥ 0.5 (the gate
   * corpus's 20 template-generated sources overlap heavily — honest).
   */
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // ≤ 62 sources (the curation norm): ONE corpus exchange, no token
    // self-join. Each token row carries its source as a BIT; a
    // partial-aggregated bit_or per token collapses duplicates and
    // membership in the same pass (the separate distinct() exchange of
    // the join formulation disappears), the (mask → token count)
    // histogram is tiny, and every pairwise intersection/size is a sum
    // over it. Skew is structurally gone: the r6 shape exchanged
    // (source, token) rows and self-joined on token, where one hot
    // stopword token made a straggling join key — here a hot token is
    // one histogram row like any other (SourceOverlapSpec plants one
    // and meters the plan). Corpora with more sources than mask bits
    // take the legacy pair-join path below.
    val srcRows = t(s, dir, "documents").select(col("source"))
      .distinct().limit(63).collect().map(_.getString(0))
    if (srcRows.length <= 62) qSourceOverlapMask(s, dir, srcRows.sorted)
    else qSourceOverlapJoin(s, dir)
  }

  private def qSourceOverlapMask(s: SparkSession, dir: String,
      srcs: Array[String]): DataFrame = {
    val bitCol = srcs.zipWithIndex.foldLeft(lit(0L)) { case (acc, (nm, i)) =>
      when(col("source") === nm, lit(1L << i)).otherwise(acc)
    }
    val hist = t(s, dir, "documents")
      .select(bitCol.as("b"),
        explode(graft.queries.TextQueries.toks(col("text"))).as("token"))
      .groupBy(col("token")).agg(expr("bit_or(b)").as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
    val pairLit = typedLit(for {
      i <- srcs.indices; j <- srcs.indices if i < j
    } yield (srcs(i), srcs(j), i, j))
    val inter = hist
      .select(col("mask"), col("cnt"), explode(pairLit).as("pr"))
      .filter(expr("(mask >> pr._3) & 1") === 1 && expr("(mask >> pr._4) & 1") === 1)
      .groupBy(col("pr._1").as("src_a"), col("pr._2").as("src_b"))
      .agg(sum(col("cnt")).as("inter"))
    val sizeLit = typedLit(srcs.indices.map(i => (srcs(i), i)))
    val sizes = hist
      .select(col("mask"), col("cnt"), explode(sizeLit).as("sv"))
      .filter(expr("(mask >> sv._2) & 1") === 1)
      .groupBy(col("sv._1").as("source")).agg(sum(col("cnt")).as("sz"))
    inter
      .join(sizes.select(col("source").as("src_a"), col("sz").as("sz_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("sz").as("sz_b")), "src_b")
      .select(col("src_a"), col("src_b"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("src_a"), col("src_b"))
  }

  /** The many-source fallback: the r6 (source, token)-distinct +
    * token self-join plan — correct at any source count, but its join
    * key inherits token skew (use the mask path whenever sources fit). */
  private[graft] def qSourceOverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val st = t(s, dir, "documents")
      .select(col("source"),
        explode(graft.queries.TextQueries.toks(col("text"))).as("token"))
      .distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val pairs = st.as("a").join(st.as("b"), "token")
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("source").as("src_a"), col("sz").as("sz_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("sz").as("sz_b")), "src_b")
      .select(col("src_a"), col("src_b"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("src_a"), col("src_b"))
  }

  val qSourceOverlapSql: String =
    """WITH st AS (
      |  SELECT DISTINCT source,
      |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                       x -> length(x) > 0)) AS token
      |  FROM documents),
      |sizes AS (SELECT source, count(*) AS sz FROM st GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
      |  FROM st a JOIN st b USING (token)
      |  WHERE a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b,
      |  ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON sa.source = src_a
      |JOIN sizes sb ON sb.source = src_b
      |WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) >= 0.5
      |ORDER BY src_a, src_b""".stripMargin

  // -------------------------------------------------------------------------
  // Time-series resample + gap interpolation
  // -------------------------------------------------------------------------

  /**
   * Resample the event stream onto a regular hourly grid with LINEAR
   * INTERPOLATION across empty buckets — the time-series
   * regularization step in front of forecasting/anomaly models (and
   * the batch form of a metrics rollup): hours with events carry the
   * exact mean of their values; empty hours interpolate between the
   * nearest observed neighbors; hours before the first / after the
   * last observation stay NULL (no extrapolation).
   *
   * Scale design: the per-hour mean is one partial-aggregated groupBy
   * (grid-sized output); the grid is generated, not scanned
   * (`sequence` + explode); the gap-fill windows run over the GRID
   * (hours), not the event stream — at 100 TB the grid for a year is
   * 8760 rows per series, and a real deployment partitions the windows
   * by series key.
   *
   * Determinism: mean = decimal-exact sum ÷ count; interpolation is
   * plain double arithmetic on (hour, value) pairs — identical in
   * DuckDB, including the IGNORE NULLS window semantics.
   */
  def qResample(s: SparkSession, dir: String): DataFrame = {
    val ev = Queries.eventsTable(s, dir)
      // `div` is exact integral division — Column./ on longs is IEEE
      // double division, whose half-ulp rounding can bump an event
      // sitting just under an hour boundary into the next bucket while
      // DuckDB's integer `//` keeps it; positive epochs make truncate
      // and floor agree
      .select(expr("unix_micros(ts) div 3600000000").as("h"), col("value"))
    val mm = ev.agg(min(col("h")), max(col("h"))).head()
    val (h0, h1) = (mm.getLong(0), mm.getLong(1))
    val means = ev.groupBy(col("h"))
      .agg((sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("mean_v"))
    val grid = s.range(1).select(explode(sequence(lit(h0), lit(h1))).as("h"))
    val wAll = Window.orderBy(col("h"))
    val wPrev = wAll.rowsBetween(Window.unboundedPreceding, 0)
    val wNext = wAll.rowsBetween(0, Window.unboundedFollowing)
    grid.join(means, Seq("h"), "left")
      .withColumn("pv", last(col("mean_v"), ignoreNulls = true).over(wPrev))
      .withColumn("ph", last(when(col("mean_v").isNotNull, col("h")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("mean_v"), ignoreNulls = true).over(wNext))
      .withColumn("nh", first(when(col("mean_v").isNotNull, col("h")),
        ignoreNulls = true).over(wNext))
      .withColumn("filled",
        when(col("mean_v").isNotNull, col("mean_v"))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            col("pv") + (col("nv") - col("pv")) *
              (col("h") - col("ph")).cast("double") /
              (col("nh") - col("ph")).cast("double")))
      .select(col("h"), round(col("mean_v"), 6).as("observed"),
        round(col("filled"), 6).as("filled"))
      .orderBy(col("h"))
  }

  val qResampleSql: String =
    """WITH ev AS (
      |  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h, value
      |  FROM events),
      |mm AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
      |means AS (
      |  SELECT h,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_v
      |  FROM ev GROUP BY h),
      |grid AS (SELECT unnest(range(h0, h1 + 1)) AS h FROM mm),
      |j AS (SELECT g.h, m.mean_v FROM grid g LEFT JOIN means m USING (h)),
      |w AS (
      |  SELECT h, mean_v,
      |    last_value(mean_v IGNORE NULLS) OVER
      |      (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN mean_v IS NOT NULL THEN h END IGNORE NULLS) OVER
      |      (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
      |    first_value(mean_v IGNORE NULLS) OVER
      |      (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN mean_v IS NOT NULL THEN h END IGNORE NULLS) OVER
      |      (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      |  FROM j)
      |SELECT h, ROUND(mean_v, 6) AS observed,
      |  ROUND(CASE WHEN mean_v IS NOT NULL THEN mean_v
      |             WHEN pv IS NOT NULL AND nv IS NOT NULL
      |             THEN pv + (nv - pv) * CAST(h - ph AS DOUBLE)
      |                  / CAST(nh - ph AS DOUBLE) END, 6) AS filled
      |FROM w
      |ORDER BY h""".stripMargin

  // -------------------------------------------------------------------------
  // Robust time-series anomaly detection
  // -------------------------------------------------------------------------

  /**
   * Boxplot-rule anomaly detection over the hourly event series: an
   * hour is anomalous when its value deviates from the TRAILING
   * 24-hour median by more than 1.5× that window's IQR (Tukey's fence
   * on a rolling robust window) — the alerting pass a metrics pipeline
   * runs over [[qResample]]'s regularized series.
   *
   * Determinism is the design driver: rolling mean/stddev accumulate
   * doubles in engine-specific fold orders and can never hash-match,
   * so the detector uses SELECTION-based statistics only — median and
   * quartiles are picked (with the proven `percentile`/`quantile_cont`
   * interpolation parity) from the window's exact values, not
   * accumulated. The hourly values themselves come from decimal-exact
   * sums (the dsum rule). Windows are trailing-only (no leakage of the
   * scored hour into its own baseline) and score only hours with a
   * full 24-hour history.
   *
   * Scale: identical shape to [[qResample]] — grid-sized windows,
   * partitioned by series key in production.
   */
  def qAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = Queries.eventsTable(s, dir)
      .select(expr("unix_micros(ts) div 3600000000").as("h"), col("value"))
      .groupBy(col("h"))
      .agg((sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("v"))
    val w = Window.orderBy(col("h")).rowsBetween(-24, -1)
    // 24 trailing ROWS only form the documented trailing DAY when they
    // span exactly 24 hours — on a gapped series the row window would
    // reach weeks back and score against a stale baseline, so the
    // contiguity gate (lag(h, 24) = h − 24) is load-bearing
    val wLag = Window.orderBy(col("h"))
    hourly
      .withColumn("hist", count(col("v")).over(w))
      .withColumn("h24", lag(col("h"), 24).over(wLag))
      .withColumn("med", expr("percentile(v, 0.5)").over(w))
      .withColumn("p25", expr("percentile(v, 0.25)").over(w))
      .withColumn("p75", expr("percentile(v, 0.75)").over(w))
      .filter(col("hist") === 24 && col("h") - col("h24") === 24)
      .withColumn("iqr", col("p75") - col("p25"))
      .withColumn("dev", col("v") - col("med"))
      .select(col("h"), round(col("v"), 6).as("v"),
        round(col("med"), 6).as("med"), round(col("iqr"), 6).as("iqr"),
        (abs(col("dev")) > lit(1.5) * col("iqr")).as("is_anomaly"))
      .orderBy(col("h"))
  }

  val qAnomalySql: String =
    """WITH hourly AS (
      |  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS v
      |  FROM events GROUP BY 1),
      |w AS (
      |  SELECT h, v,
      |    count(v) OVER tw AS hist,
      |    lag(h, 24) OVER (ORDER BY h) AS h24,
      |    quantile_cont(v, 0.5) OVER tw AS med,
      |    quantile_cont(v, 0.25) OVER tw AS p25,
      |    quantile_cont(v, 0.75) OVER tw AS p75
      |  FROM hourly
      |  WINDOW tw AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT h, ROUND(v, 6) AS v, ROUND(med, 6) AS med,
      |  ROUND(p75 - p25, 6) AS iqr,
      |  abs(v - med) > 1.5 * (p75 - p25) AS is_anomaly
      |FROM w WHERE hist = 24 AND h - h24 = 24
      |ORDER BY h""".stripMargin

  // -------------------------------------------------------------------------
  // Event-transition (Markov) matrix
  // -------------------------------------------------------------------------

  /**
   * First-order Markov transition matrix over per-user event
   * sequences: P(next event type | current) from every adjacent pair
   * in each user's time-ordered stream — the behavioral-model
   * summary behind next-action prediction, funnel design and bot
   * detection (uniform rows ≈ scripted traffic).
   *
   * Scale: the lag window partitions by USER (per-partition state is
   * one row), the matrix aggregate is |types|² — constant-sized
   * output however large the stream; ties at equal timestamps break
   * by event_id so the sequence (and thus the oracle hash) is total.
   */
  def qMarkov(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Queries.eventsTable(s, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val rowTot = Window.partitionBy(col("prev_type"))
    trans
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(rowTot), 6))
      .select(col("prev_type"), col("next_type"), col("n"), col("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val qMarkovSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_type
      |  FROM events),
      |trans AS (
      |  SELECT prev_type, event_type AS next_type, count(*) AS n
      |  FROM seq WHERE prev_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
      |FROM trans
      |ORDER BY prev_type, next_type""".stripMargin

  // -------------------------------------------------------------------------
  // Hot event paths (sequence heavy hitters)
  // -------------------------------------------------------------------------

  /**
   * Frequent 3-step behavior paths at support φ: every `a>b>c` triple
   * of consecutive events (per user, time-ordered, event_id
   * tiebreaks) occurring in ≥ ⌈φN⌉ of the corpus's N path slots — the
   * sequence-mining complement of [[qMarkov]] (transition PAIRS can
   * look normal while a 3-step loop screams bot).
   *
   * Reuses the exact two-pass Misra–Gries plan
   * ([[graft.functions.FreqCandidates]], `text_hot_ngrams`): pass 1
   * folds partitions into ≤⌈1/φ⌉-counter summaries (fixed-size
   * exchange regardless of path cardinality — |types|³ here, unbounded
   * for parameterized events in general), pass 2 recounts only
   * candidates map-side. Exact output, so the oracle is the naive
   * GROUP BY … HAVING.
   */
  def qHotPaths(s: SparkSession, dir: String, phi: Double = 0.01): DataFrame = {
    graft.functions.registerAll(s)
    val capacity = math.ceil(1.0 / phi).toInt
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    def paths = Queries.eventsTable(s, dir)
      .withColumn("p1", lag(col("event_type"), 2).over(w))
      .withColumn("p2", lag(col("event_type"), 1).over(w))
      .filter(col("p1").isNotNull)
      .select(concat(col("p1"), lit(">"), col("p2"), lit(">"),
        col("event_type")).as("path"))
    val first = paths.agg(
        graft.functions.freq_candidates(col("path"), capacity).as("cands"),
        count(lit(1)).as("n"))
      .head()
    val cands = first.getSeq[String](0)
    val threshold = math.ceil(phi * first.getLong(1)).toLong
    paths.filter(col("path").isin(cands: _*))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
      .orderBy(col("cnt").desc, col("path"))
  }

  val qHotPathsSql: String =
    """WITH seq AS (
      |  SELECT lag(event_type, 2) OVER tw AS p1,
      |    lag(event_type, 1) OVER tw AS p2,
      |    event_type AS p3
      |  FROM events
      |  WINDOW tw AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |paths AS (
      |  SELECT p1 || '>' || p2 || '>' || p3 AS path FROM seq
      |  WHERE p1 IS NOT NULL),
      |tot AS (SELECT count(*) AS n FROM paths)
      |SELECT path, count(*) AS cnt
      |FROM paths
      |GROUP BY path
      |HAVING count(*) >= (SELECT CAST(CEIL(0.01 * n) AS BIGINT) FROM tot)
      |ORDER BY cnt DESC, path""".stripMargin

  // -------------------------------------------------------------------------
  // Poisson-bootstrap confidence interval
  // -------------------------------------------------------------------------

  /** Cumulative Poisson(1) CDF cut points (k = 0..7, tail capped at 8),
    * emitted with full double precision into BOTH the Column ladder and
    * the oracle SQL from this one sequence, so the two formulations
    * cannot drift. */
  private val poissonCdf: Seq[Double] = {
    val e = math.exp(-1.0)
    var f = 1.0
    (0 to 7).map { k =>
      if (k > 0) f *= k
      e / f
    }.scanLeft(0.0)(_ + _).drop(1)
  }

  // -------------------------------------------------------------------------
  // Table profiling (data-catalog statistics)
  // -------------------------------------------------------------------------

  /**
   * Data-catalog profile: per (table, column) row count, null count
   * and exact distinct count — the statistics pass every platform
   * catalog (and every cost-based optimizer) keeps per table, and the
   * first thing a data-quality incident review pulls up. One scan per
   * TABLE computes all of its columns' metrics in a single aggregate
   * (count + null-sum + countDistinct per column — partial-aggregated
   * together), then the wide row unpivots to the catalog grain.
   *
   * Scale note: exact countDistinct shuffles per-column distinct sets;
   * at 100 TB the catalog swaps in `approx_count_distinct` (HLL — the
   * `q_approx_distinct` machinery) column-by-column with no structural
   * change.
   */
  def qTableProfile(s: SparkSession, dir: String): DataFrame = {
    def profile(table: String, df: DataFrame, cols: Seq[String]): DataFrame = {
      val aggs = cols.flatMap { cn =>
        // coalesce: an empty table must profile as 0 nulls in BOTH
        // engines (Spark's null SUM would unbox to 0 while the oracle
        // returned NULL — a silent parity split)
        Seq(coalesce(sum(when(col(cn).isNull, 1L).otherwise(0L)), lit(0L))
            .as(s"${cn}__nulls"),
          countDistinct(col(cn)).as(s"${cn}__distinct"))
      }
      val row = df.agg(count(lit(1)).as("n_rows"), aggs: _*).head()
      import s.implicits._
      cols.map { cn =>
        (table, cn, row.getAs[Long]("n_rows"),
          row.getAs[Long](s"${cn}__nulls"), row.getAs[Long](s"${cn}__distinct"))
      }.toDF("table_name", "column_name", "n_rows", "n_nulls", "n_distinct")
    }
    profile("documents", t(s, dir, "documents"), Seq("lang", "source"))
      .unionByName(profile("events", Queries.eventsTable(s, dir),
        Seq("event_type", "user_id")))
      .unionByName(profile("orders", t(s, dir, "orders"),
        Seq("o_orderstatus", "o_custkey")))
      .orderBy(col("table_name"), col("column_name"))
  }

  val qTableProfileSql: String =
    """SELECT table_name, column_name, n_rows, n_nulls, n_distinct FROM (
      |  SELECT 'documents' AS table_name, 'lang' AS column_name,
      |    count(*) AS n_rows,
      |    COALESCE(CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_nulls,
      |    count(DISTINCT lang) AS n_distinct FROM documents
      |  UNION ALL
      |  SELECT 'documents', 'source', count(*),
      |    COALESCE(CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT), 0),
      |    count(DISTINCT source) FROM documents
      |  UNION ALL
      |  SELECT 'events', 'event_type', count(*),
      |    COALESCE(CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT), 0),
      |    count(DISTINCT event_type) FROM events
      |  UNION ALL
      |  SELECT 'events', 'user_id', count(*),
      |    COALESCE(CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT), 0),
      |    count(DISTINCT user_id) FROM events
      |  UNION ALL
      |  SELECT 'orders', 'o_orderstatus', count(*),
      |    COALESCE(CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT), 0),
      |    count(DISTINCT o_orderstatus) FROM orders
      |  UNION ALL
      |  SELECT 'orders', 'o_custkey', count(*),
      |    COALESCE(CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), 0),
      |    count(DISTINCT o_custkey) FROM orders)
      |ORDER BY table_name, column_name""".stripMargin

  // -------------------------------------------------------------------------
  // Data-contract expectations report
  // -------------------------------------------------------------------------

  /**
   * Expectation suite (the Great-Expectations / data-contract shape):
   * each rule is a boolean predicate checked corpus-wide, and the
   * report carries checked/violation counts + a pass flag — what a
   * pipeline gates a corpus release on, and the operator that turns
   * `q_table_profile`'s descriptive statistics into enforceable
   * contracts. Rule 2 (min doc length 50) FAILS on the gate corpus by
   * design — a validation report that can only ever pass is
   * decoration.
   *
   * Scale: each rule is one conditional-sum inside its table's single
   * aggregation pass (rules over the same table share the scan);
   * violations never materialize — only counts move.
   */
  def qExpectations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val ords = t(s, dir, "orders")
    val ev = Queries.eventsTable(s, dir)
    def report(df: DataFrame, rules: Seq[(String, String, Column)]): Seq[(String, String, Long, Long)] = {
      // a NULL-evaluating predicate is a VIOLATION, not a pass — a
      // validator that approves exactly the malformed rows it exists
      // to catch is worse than none (NOT coalesce(pred, false), and
      // `pred IS NOT TRUE` on the oracle side). coalesce(sum, 0) keeps
      // the empty-table report at zero in both engines.
      val aggs = rules.map { case (id, _, pred) =>
        coalesce(sum(when(!coalesce(pred, lit(false)), 1L).otherwise(0L)), lit(0L))
          .as(id)
      }
      val row = df.agg(count(lit(1)).as("n"), aggs: _*).head()
      rules.map { case (id, table, _) =>
        (id, table, row.getAs[Long]("n"), row.getAs[Long](id))
      }
    }
    val known = typedLit(knownEventTypes)
    val all =
      report(docs, Seq(
        ("doc_chars_consistent", "documents", col("n_chars") === length(col("text"))),
        ("doc_min_length_50", "documents", length(col("text")) >= 50))) ++
      report(ords, Seq(
        ("order_price_positive", "orders", col("o_totalprice") > 0))) ++
      report(ev, Seq(
        ("event_type_known", "events", array_contains(known, col("event_type"))),
        ("event_value_not_null", "events", col("value").isNotNull)))
    all.toDF("rule_id", "table_name", "n_checked", "n_violations")
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy(col("rule_id"))
  }

  /** The one list both the Column predicate and the SQL IN-list are
    * generated from (the langMarkers discipline — two hand-typed
    * copies could drift invisibly on a zero-violation corpus). */
  private[queries] val knownEventTypes: Seq[String] =
    Seq("click", "view", "purchase", "signup", "error")

  lazy val qExpectationsSql: String = {
    val inList = knownEventTypes.map(t => s"'$t'").mkString(", ")
    def viol(pred: String) =
      s"COALESCE(CAST(SUM(CASE WHEN ($pred) IS NOT TRUE THEN 1 ELSE 0 END) AS BIGINT), 0)"
    s"""SELECT rule_id, table_name, n_checked, n_violations,
       |  n_violations = 0 AS passed
       |FROM (
       |  SELECT 'doc_chars_consistent' AS rule_id, 'documents' AS table_name,
       |    count(*) AS n_checked,
       |    ${viol("n_chars = length(text)")} AS n_violations
       |  FROM documents
       |  UNION ALL
       |  SELECT 'doc_min_length_50', 'documents', count(*),
       |    ${viol("length(text) >= 50")}
       |  FROM documents
       |  UNION ALL
       |  SELECT 'order_price_positive', 'orders', count(*),
       |    ${viol("o_totalprice > 0")}
       |  FROM orders
       |  UNION ALL
       |  SELECT 'event_type_known', 'events', count(*),
       |    ${viol(s"event_type IN ($inList)")}
       |  FROM events
       |  UNION ALL
       |  SELECT 'event_value_not_null', 'events', count(*),
       |    ${viol("value IS NOT NULL")}
       |  FROM events)
       |ORDER BY rule_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // A/B comparison with bootstrap difference CI
  // -------------------------------------------------------------------------

  /**
   * Two-group comparison — click vs view event values — with a
   * Poisson-bootstrap CI on the DIFFERENCE of means: the
   * experimentation-platform readout ("is the lift real?") built from
   * Poisson(1) replica weights ([[poissonCdf]]), with both groups'
   * replica means computed from ONE scan (each row's weight is drawn
   * per replica; the group split rides the same pass) and the CI taken
   * over per-replica differences — which correctly captures that both
   * group estimates wobble. `significant` = the 95 % CI excludes 0.
   *
   * Determinism: hash-seeded weights, decimal-exact weighted sums,
   * selection-based CI.
   */
  def qAbTest(s: SparkSession, dir: String, reps: Int = 50): DataFrame = {
    val ev = Queries.eventsTable(s, dir)
      .filter(col("event_id") % 20 === 0 &&
        col("event_type").isin("click", "view"))
      .select(col("event_id").as("k"), col("event_type").as("g"), col("value").as("x"))
    val u = PipelineQueries.hashUniform(
      concat(col("k").cast("string"), lit(":"), col("rep").cast("string")))
    val w = poissonCdf.zipWithIndex.foldRight(lit(8): Column) {
      case ((cut, k), rest) => when(col("u") < lit(cut), k).otherwise(rest)
    }
    val repDiffs = ev
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("u", u)
      .withColumn("w", w)
      .groupBy(col("rep"))
      .agg(
        (sum(when(col("g") === "click", col("x").cast("decimal(14,4)") * col("w"))
          .otherwise(lit(0).cast("decimal(14,4)"))).cast("double") /
          sum(when(col("g") === "click", col("w")).otherwise(0L))).as("ma"),
        (sum(when(col("g") === "view", col("x").cast("decimal(14,4)") * col("w"))
          .otherwise(lit(0).cast("decimal(14,4)"))).cast("double") /
          sum(when(col("g") === "view", col("w")).otherwise(0L))).as("mb"))
      .select(col("rep"), (col("ma") - col("mb")).as("d"))
    val ci = repDiffs.agg(
      expr("percentile(d, 0.025)").as("ci_lo"),
      expr("percentile(d, 0.975)").as("ci_hi"))
    val point = ev.groupBy().agg(
      (sum(when(col("g") === "click", col("x").cast("decimal(14,4)"))
        .otherwise(lit(0).cast("decimal(14,4)"))).cast("double") /
        sum(when(col("g") === "click", 1L).otherwise(0L))).as("mean_click"),
      (sum(when(col("g") === "view", col("x").cast("decimal(14,4)"))
        .otherwise(lit(0).cast("decimal(14,4)"))).cast("double") /
        sum(when(col("g") === "view", 1L).otherwise(0L))).as("mean_view"))
    point.crossJoin(ci)
      .select(round(col("mean_click"), 4).as("mean_click"),
        round(col("mean_view"), 4).as("mean_view"),
        round(col("mean_click") - col("mean_view"), 4).as("diff"),
        round(col("ci_lo"), 4).as("ci_lo"),
        round(col("ci_hi"), 4).as("ci_hi"),
        (col("ci_lo") > 0 || col("ci_hi") < 0).as("significant"))
  }

  lazy val qAbTestSql: String = {
    val toSigned = DedupQueries.toSignedSql
    val ladder = poissonCdf.zipWithIndex
      .map { case (cut, k) => s"WHEN u < $cut THEN $k" }
      .mkString("CASE ", " ", " ELSE 8 END")
    s"""WITH ev AS (
       |  SELECT event_id AS k, event_type AS g, value AS x FROM events
       |  WHERE event_id % 20 = 0 AND event_type IN ('click', 'view')),
       |rep AS (
       |  SELECT k, g, x, r.rep,
       |    CAST(k AS VARCHAR) || ':' || CAST(r.rep AS VARCHAR) AS tk
       |  FROM ev, (SELECT unnest(range(0, 50)) AS rep) r),
       |tok AS (SELECT DISTINCT tk FROM rep),
       |""".stripMargin + DedupQueries.xxHashTokenCtes + ",\n" +
      s"""uw AS (
         |  SELECT rep.rep, rep.g, rep.x,
         |    GREATEST(LEAST(
         |      CAST($toSigned AS DOUBLE) / 18446744073709551616.0 + 0.5,
         |      0.9999999999999999), 5.421010862427522e-20) AS u
         |  FROM rep JOIN hashed USING (tk)),
         |wt AS (SELECT rep, g, x, $ladder AS w FROM uw),
         |rm AS (
         |  SELECT rep,
         |    CAST(SUM(CASE WHEN g = 'click' THEN CAST(x AS DECIMAL(14,4)) * w
         |             ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
         |      / SUM(CASE WHEN g = 'click' THEN w ELSE 0 END)
         |    - CAST(SUM(CASE WHEN g = 'view' THEN CAST(x AS DECIMAL(14,4)) * w
         |               ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
         |      / SUM(CASE WHEN g = 'view' THEN w ELSE 0 END) AS d
         |  FROM wt GROUP BY rep),
         |ci AS (SELECT quantile_cont(d, 0.025) AS ci_lo,
         |              quantile_cont(d, 0.975) AS ci_hi FROM rm),
         |pt AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN g = 'click' THEN CAST(x AS DECIMAL(14,4))
         |             ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
         |      / SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS mean_click,
         |    CAST(SUM(CASE WHEN g = 'view' THEN CAST(x AS DECIMAL(14,4))
         |             ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
         |      / SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS mean_view
         |  FROM ev)
         |SELECT ROUND(pt.mean_click, 4) AS mean_click,
         |  ROUND(pt.mean_view, 4) AS mean_view,
         |  ROUND(pt.mean_click - pt.mean_view, 4) AS diff,
         |  ROUND(ci.ci_lo, 4) AS ci_lo, ROUND(ci.ci_hi, 4) AS ci_hi,
         |  ci.ci_lo > 0 OR ci.ci_hi < 0 AS significant
         |FROM pt, ci""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Seasonality profile
  // -------------------------------------------------------------------------

  /**
   * Load-seasonality profile: event counts and decimal-exact mean
   * value per (day-of-week, hour-of-day) cell — the capacity-planning
   * / staffing heatmap, and the seasonal baseline [[qAnomaly]]'s
   * trailing window deliberately does NOT model (a Monday-morning
   * spike is seasonal, not anomalous, once this profile is in hand).
   *
   * Engine-independence note: Spark's `dayofweek` (Sunday=1) and
   * DuckDB's (Sunday=0) disagree, so BOTH sides derive the cell from
   * pure epoch arithmetic — dow = (floor(us / 86 400 000 000) + 4) % 7
   * (epoch day 0 = Thursday → Monday=0 … Sunday=6), hod =
   * (us ÷ 3 600 000 000) mod 24 — no calendar function, no timezone
   * surface, same integers everywhere.
   */
  /**
   * EWMA load forecast per event-type series — the classic ops/capacity
   * smoother: hourly counts, `s_t = (x_t + s_{t−1}) div 2` (α = ½ in
   * EXACT integer halving — fractional α would accumulate float
   * fold-order drift no oracle could replay; ½ keeps the whole
   * recurrence in longs), forecast for hour t = the smoothed value
   * through t−1, residual = actual − forecast (the anomaly signal
   * q_anomaly thresholdizes with Tukey fences; this exposes the raw
   * forecast the way a capacity planner consumes it).
   *
   * Scale shape: per-series SEQUENTIAL state is inherent to
   * exponential smoothing, so each series folds in-row — one shuffle
   * brings a series' (hour, count) rows into one group, `sort_array`
   * orders them, and an `aggregate` HOF walks the recurrence
   * (per-series memory = series length × 32 B; series are
   * hour-indexed, bounded by calendar time — 10 years ≈ 88 K entries
   * ≈ 3 MB, fine; the CORPUS dimension scales through the number of
   * series, which the groupBy distributes). Hours are pure epoch
   * arithmetic (the q_seasonality discipline); gaps smooth across
   * observed hours — gap filling belongs to q_resample upstream.
   */
  def qEwma(s: SparkSession, dir: String): DataFrame =
    Queries.eventsTable(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("h"), col("n")))).as("xs"))
      .select(col("event_type"), explode(expr(
        """aggregate(xs,
          |  CAST(array() AS array<struct<h:BIGINT,n:BIGINT,s:BIGINT,fc:BIGINT>>),
          |  (acc, x) -> CASE WHEN size(acc) = 0
          |    THEN array(named_struct('h', x.h, 'n', x.n, 's', x.n,
          |                            'fc', CAST(NULL AS BIGINT)))
          |    ELSE concat(acc, array(named_struct('h', x.h, 'n', x.n,
          |      's', (x.n + element_at(acc, -1).s) div 2,
          |      'fc', element_at(acc, -1).s))) END)""".stripMargin)).as("r"))
      .select(col("event_type"), col("r.h").as("h"), col("r.n").as("n"),
        col("r.fc").as("forecast"), (col("r.n") - col("r.fc")).as("residual"))
      .orderBy(col("event_type"), col("h"))

  /** The identical integer recurrence as a recursive CTE — exact
    * replay, including the floor halving and the null first forecast. */
  val qEwmaSql: String =
    """WITH RECURSIVE hourly AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |hr AS (
      |  SELECT event_type, h, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |  FROM hourly),
      |r AS (
      |  SELECT event_type, rn, h, n, n AS s, CAST(NULL AS BIGINT) AS fc
      |  FROM hr WHERE rn = 1
      |  UNION ALL
      |  SELECT hr.event_type, hr.rn, hr.h, hr.n,
      |    (hr.n + r.s) // 2, r.s
      |  FROM hr JOIN r ON hr.event_type = r.event_type AND hr.rn = r.rn + 1)
      |SELECT event_type, h, n, fc AS forecast, n - fc AS residual
      |FROM r
      |ORDER BY event_type, h""".stripMargin

  /**
   * Theil–Sen robust trend per event-type series — the
   * outlier-resistant slope estimator (median of all pairwise slopes;
   * up to ~29 % contamination cannot move it, where least squares
   * follows a single spike): daily counts, slope = lower-median of
   * `(n_j − n_i)/(d_j − d_i)` over all day pairs, intercept =
   * median(n) − slope·median(d). Every slope is ONE IEEE division on
   * integer inputs — identical in both engines — and every median is a
   * SELECTION (lower index), not an average, so the whole estimate is
   * value-deterministic and hash-matchable.
   *
   * Scale shape: pair enumeration is per-series and in-row
   * (`transform` with index over the sorted day array — O(days²)
   * inside one row; a decade of days = 6.7 M slopes ≈ 54 MB transient,
   * the documented per-series ceiling); the corpus dimension scales
   * through the number of series. The day collapse is the only corpus
   * exchange (partial-aggregated counts).
   */
  def qTrend(s: SparkSession, dir: String): DataFrame =
    Queries.eventsTable(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("d"), col("n")))).as("xs"))
      .select(col("event_type"),
        size(col("xs")).as("n_days"),
        expr("""sort_array(flatten(transform(xs, (x, i) ->
          |  transform(slice(xs, i + 2, size(xs)), y ->
          |    CAST(y.n - x.n AS DOUBLE) / CAST(y.d - x.d AS DOUBLE)))))
          |""".stripMargin).as("slopes"),
        expr("transform(xs, x -> x.d)").as("ds"),
        expr("sort_array(transform(xs, x -> x.n))").as("ns"))
      .select(col("event_type"), col("n_days"),
        when(size(col("slopes")) > 0, element_at(col("slopes"),
          (floor((size(col("slopes")) - 1) / 2) + 1).cast("int"))).as("slope"),
        element_at(col("ds"),
          (floor((size(col("ds")) - 1) / 2) + 1).cast("int")).as("med_d"),
        element_at(col("ns"),
          (floor((size(col("ns")) - 1) / 2) + 1).cast("int")).as("med_n"))
      .select(col("event_type"), col("n_days"),
        (floor(col("slope") * 1e6 + 0.5) / 1e6).as("slope"),
        (floor((col("med_n") - col("slope") * col("med_d")) * 1e6 + 0.5) / 1e6)
          .as("intercept"))
      .orderBy(col("event_type"))

  /** Same pairs, same divisions, same lower-median selections. */
  val qTrendSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS d, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |sl AS (
      |  SELECT a.event_type,
      |    CAST(b.n - a.n AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS s
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND b.d > a.d),
      |slr AS (
      |  SELECT event_type, s,
      |    row_number() OVER (PARTITION BY event_type ORDER BY s) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS m
      |  FROM sl),
      |slope AS (
      |  SELECT event_type, max(CASE WHEN rn = (m - 1) // 2 + 1 THEN s END) AS slope
      |  FROM slr GROUP BY event_type),
      |dr AS (
      |  SELECT event_type, d, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY d) AS rd,
      |    count(*) OVER (PARTITION BY event_type) AS m
      |  FROM daily),
      |nr AS (
      |  SELECT event_type, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY n) AS rn2,
      |    count(*) OVER (PARTITION BY event_type) AS m
      |  FROM daily),
      |med AS (
      |  SELECT dr.event_type,
      |    max(CASE WHEN dr.rd = (dr.m - 1) // 2 + 1 THEN dr.d END) AS med_d,
      |    (SELECT max(CASE WHEN rn2 = (m - 1) // 2 + 1 THEN n END)
      |     FROM nr WHERE nr.event_type = dr.event_type) AS med_n,
      |    max(dr.m) AS n_days
      |  FROM dr GROUP BY dr.event_type)
      |SELECT m.event_type, CAST(m.n_days AS INT) AS n_days,
      |  FLOOR(s.slope * 1e6 + 0.5) / 1e6 AS slope,
      |  FLOOR((m.med_n - s.slope * m.med_d) * 1e6 + 0.5) / 1e6 AS intercept
      |-- LEFT: a one-day series has no pairs (slope CTE empty) but must
      |-- still emit its row with null slope/intercept, like the Spark side
      |FROM med m LEFT JOIN slope s USING (event_type)
      |ORDER BY event_type""".stripMargin

  def qSeasonality(s: SparkSession, dir: String): DataFrame =
    Queries.eventsTable(s, dir)
      .select(
        pmod(expr("unix_micros(ts) div 86400000000") + lit(4L), lit(7L)).as("dow"),
        pmod(expr("unix_micros(ts) div 3600000000"), lit(24L)).as("hod"),
        col("value"))
      .groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("mean_v"))
      .select(col("dow"), col("hod"), col("n"), round(col("mean_v"), 6).as("mean_v"))
      .orderBy(col("dow"), col("hod"))

  val qSeasonalitySql: String =
    """SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
      |  (epoch_us(ts) // 3600000000) % 24 AS hod,
      |  count(*) AS n,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
      |    AS mean_v
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY dow, hod""".stripMargin

  // -------------------------------------------------------------------------
  // KMV sketch set algebra (mergeable distinct estimates)
  // -------------------------------------------------------------------------

  /**
   * K-minimum-values sketch set algebra (Bar-Yossef et al. 2002;
   * Beyer et al. SIGMOD'07): the vocabulary of the even-numbered
   * sources vs the odd-numbered ones, each summarized by its k=64
   * SMALLEST token-hash uniforms — a fixed-size, MERGEABLE,
   * fully DETERMINISTIC sketch (bottom-k of a hash is a pure function
   * of the set: no RNG, order-independent, dedup-free). From the two
   * sketches alone: distinct estimates ((k−1)/u_k), the union estimate
   * (bottom-k of the merged sketch), and the Jaccard/intersection
   * estimates (the resemblance of the combined bottom-k — the
   * min-wise estimator). This is the distinct-set algebra HLL cannot
   * give without bias (HLL intersects by inclusion–exclusion only) and
   * the one sketch family the engine was missing; at 100 TB each
   * segment's sketch is 512 bytes however many tokens it holds, and
   * segments merge associatively.
   *
   * Determinism is the point: unlike HLL's engine-specific register
   * layout (q_approx_distinct is rows-only), every number here replays
   * exactly — hash, bottom-k cut, estimator arithmetic — so the
   * sketch gets a FULL hash oracle.
   */
  def qKmvSetops(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val docs = t(s, dir, "documents")
      // null-safe digit extraction: a digit-less source (multilingual
      // corpus has one) must land in a deterministic group, not throw
      // an ANSI cast error
      .select((coalesce(nullif(regexp_extract(col("source"), "([0-9]+)$", 1),
          lit("")).cast("long"), lit(0L)) % 2 === 0)
        .as("even"),
        explode(graft.queries.TextQueries.toks(col("text"))).as("token"))
      .distinct()
    val hashed = docs.select(col("even"),
      PipelineQueries.hashUniform(col("token")).as("u"))
      .distinct()
    val w = Window.partitionBy(col("even")).orderBy(col("u"))
    val sk = hashed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .cache()
    import s.implicits._
    val a = sk.filter(col("even")).orderBy(col("u")).collect().map(_.getDouble(1))
    val b = sk.filter(!col("even")).orderBy(col("u")).collect().map(_.getDouble(1))
    sk.unpersist()
    def est(us: Array[Double]): Double =
      if (us.length < k) us.length.toDouble else (k - 1).toDouble / us(k - 1)
    // union sketch: bottom-k of the merged value sets
    val merged = (a ++ b).distinct.sorted.take(k)
    val unionEst = est(merged)
    // min-wise resemblance: fraction of the merged bottom-k present in
    // BOTH sketches (Broder's estimator over the combined sample)
    val aSet = a.toSet; val bSet = b.toSet
    val inBoth = merged.count(v => aSet.contains(v) && bSet.contains(v))
    val jac = inBoth.toDouble / merged.length
    val interEst = jac * unionEst
    // floor-based rounding (the q_langid_eval discipline): identical
    // double arithmetic in both engines, no HALF_UP-vs-binary split
    def r2(x: Double) = math.floor(x * 100.0 + 0.5) / 100.0
    def r4d(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    Seq((r2(est(a)), r2(est(b)), r2(unionEst), r4d(jac), r2(interEst)))
      .toDF("est_even", "est_odd", "est_union", "est_jaccard", "est_intersection")
  }

  /** The whole sketch replayed: same hash uniforms (signed-cast chain),
    * same bottom-k cuts, same estimator arithmetic. */
  lazy val qKmvSetopsSql: String = {
    val toSigned = DedupQueries.toSignedSql
    s"""WITH st AS (
       |  SELECT DISTINCT
       |    COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)$$', 1) AS BIGINT), 0)
       |      % 2 = 0 AS even,
       |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                       x -> length(x) > 0)) AS token
       |  FROM documents),
       |tok AS (SELECT DISTINCT token AS tk FROM st),
       |""".stripMargin + DedupQueries.xxHashTokenCtes + ",\n" +
      s"""us AS (
         |  SELECT DISTINCT st.even,
         |    GREATEST(LEAST(
         |      CAST($toSigned AS DOUBLE) / 18446744073709551616.0 + 0.5,
         |      0.9999999999999999), 5.421010862427522e-20) AS u
         |  FROM st JOIN hashed ON st.token = hashed.tk),
         |sk AS (
         |  SELECT even, u, row_number() OVER (PARTITION BY even ORDER BY u) AS rn
         |  FROM us),
         |ka AS (SELECT u FROM sk WHERE even AND rn <= 64),
         |kb AS (SELECT u FROM sk WHERE NOT even AND rn <= 64),
         |ea AS (SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |              ELSE 63.0 / max(u) END AS e FROM ka),
         |eb AS (SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |              ELSE 63.0 / max(u) END AS e FROM kb),
         |mg AS (
         |  SELECT u, row_number() OVER (ORDER BY u) AS rn FROM (
         |    SELECT DISTINCT u FROM (
         |      SELECT u FROM ka UNION ALL SELECT u FROM kb))),
         |mk AS (SELECT u FROM mg WHERE rn <= 64),
         |eu AS (SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |              ELSE 63.0 / max(u) END AS e FROM mk),
         |jb AS (
         |  SELECT CAST(SUM(CASE WHEN u IN (SELECT u FROM ka)
         |                        AND u IN (SELECT u FROM kb)
         |                  THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS j
         |  FROM mk)
         |SELECT FLOOR(ea.e * 100.0 + 0.5) / 100.0 AS est_even,
         |  FLOOR(eb.e * 100.0 + 0.5) / 100.0 AS est_odd,
         |  FLOOR(eu.e * 100.0 + 0.5) / 100.0 AS est_union,
         |  FLOOR(jb.j * 10000.0 + 0.5) / 10000.0 AS est_jaccard,
         |  FLOOR(jb.j * eu.e * 100.0 + 0.5) / 100.0 AS est_intersection
         |FROM ea, eb, eu, jb""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Rolling per-user features (training-data export)
  // -------------------------------------------------------------------------

  /**
   * Rolling user features (r8) — the lag/window feature block every
   * behavioral model trains on: per (user, day), the 7-day trailing
   * event count and value sum (current day inclusive) and the gap to
   * the previous active day. All windows PARTITION BY user over the
   * per-(user, day) collapsed frame (entity-keyed, day grain — one
   * partition per user, never a global or low-cardinality sort;
   * the audit-trio lesson applied at design time). Day arithmetic in
   * integer epoch days; value sums decimal → 4-dp round.
   */
  def qUserFeatures(s: SparkSession, dir: String): DataFrame = {
    val daily = Queries.eventsTable(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"),
        col("value"))
      .groupBy(col("user_id"), col("d"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("v"))
    val w7 = Window.partitionBy(col("user_id")).orderBy(col("d"))
      .rangeBetween(-6, 0)
    val wLag = Window.partitionBy(col("user_id")).orderBy(col("d"))
    daily
      .withColumn("events_7d", sum(col("n")).over(w7))
      .withColumn("value_7d", round(sum(col("v")).over(w7).cast("double"), 4))
      .withColumn("gap_days", col("d") - lag(col("d"), 1).over(wLag))
      .select(col("user_id"), col("d").as("day"), col("n").as("events"),
        col("events_7d"), col("value_7d"), col("gap_days"))
      .orderBy(col("user_id"), col("day"))
  }

  val qUserFeaturesSql: String =
    """WITH daily AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS d, count(*) AS n,
      |    SUM(CAST(value AS DECIMAL(18,6))) AS v
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, d AS day, n AS events,
      |  CAST(SUM(n) OVER (PARTITION BY user_id ORDER BY d
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS events_7d,
      |  ROUND(CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY d
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS value_7d,
      |  d - lag(d, 1) OVER (PARTITION BY user_id ORDER BY d) AS gap_days
      |FROM daily
      |ORDER BY user_id, day""".stripMargin

  // -------------------------------------------------------------------------
  // Marketing attribution (first/last touch)
  // -------------------------------------------------------------------------

  /**
   * First-touch / last-touch revenue attribution — the standard
   * channel-credit frame: each `purchase` event's value credits (a)
   * the user's FIRST event type ever (first touch) and (b) the event
   * type immediately preceding the purchase (last touch; a purchase
   * with no predecessor credits itself). Both derivations are windows
   * PARTITIONED BY user ordered by (ts, event_id) — entity-keyed, so
   * a 100 TB event stream sorts inside user partitions (no global or
   * low-cardinality window; the q_rfm lesson applied at design time).
   * Decimal sums, 4-dp round — the dsum rule.
   */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Queries.eventsTable(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val credited = ev
      .withColumn("first_touch", first(col("event_type")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("last_touch",
        coalesce(lag(col("event_type"), 1).over(w), col("event_type")))
      .filter(col("event_type") === "purchase")
    val byFirst = credited.groupBy(col("first_touch").as("channel"))
      .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
          .as("first_touch_value"),
        count(lit(1)).as("first_touch_conversions"))
    val byLast = credited.groupBy(col("last_touch").as("channel"))
      .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
          .as("last_touch_value"),
        count(lit(1)).as("last_touch_conversions"))
    byFirst.join(byLast, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("first_touch_value"), lit(0.0)).as("first_touch_value"),
        coalesce(col("first_touch_conversions"), lit(0L)).as("first_touch_conversions"),
        coalesce(col("last_touch_value"), lit(0.0)).as("last_touch_value"),
        coalesce(col("last_touch_conversions"), lit(0L)).as("last_touch_conversions"))
      .orderBy(col("channel"))
  }

  val qAttributionSql: String =
    """WITH ev AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    first_value(event_type) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS first_touch,
      |    COALESCE(lag(event_type, 1) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id), event_type) AS last_touch
      |  FROM events),
      |conv AS (SELECT * FROM ev WHERE event_type = 'purchase'),
      |f AS (
      |  SELECT first_touch AS channel,
      |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
      |      AS first_touch_value,
      |    count(*) AS first_touch_conversions
      |  FROM conv GROUP BY 1),
      |l AS (
      |  SELECT last_touch AS channel,
      |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
      |      AS last_touch_value,
      |    count(*) AS last_touch_conversions
      |  FROM conv GROUP BY 1)
      |SELECT channel,
      |  COALESCE(first_touch_value, 0.0) AS first_touch_value,
      |  COALESCE(first_touch_conversions, 0) AS first_touch_conversions,
      |  COALESCE(last_touch_value, 0.0) AS last_touch_value,
      |  COALESCE(last_touch_conversions, 0) AS last_touch_conversions
      |FROM f FULL OUTER JOIN l USING (channel)
      |ORDER BY channel""".stripMargin

  // -------------------------------------------------------------------------
  // Equi-width histogram (profiling)
  // -------------------------------------------------------------------------

  /**
   * Equi-width value histogram per group — the distribution-profiling
   * complement of `q_table_profile`'s scalar stats (the first plot an
   * analyst draws, and the CBO's selectivity table): 20 bins over the
   * GLOBAL [min, max] of l_extendedprice, counts per (returnflag,
   * bin). Two partial-aggregated passes (a 1-row min/max frame
   * broadcast onto the binning scan); bin index is
   * `floor((v−min)·20/(max−min))` clamped to 19 — the identical
   * double expression in both engines, so the gate hash-matches.
   * Empty bins are real rows (dense per-group bin frame via the
   * groups × bins cross of the OBSERVED groups — a profile with holes
   * reads as data loss).
   */
  def qHistogram(s: SparkSession, dir: String, bins: Int = 20): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
    val mm = li.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val binned = li.crossJoin(broadcast(mm))
      .select(col("l_returnflag"),
        least(floor((col("v") - col("lo")) * bins / (col("hi") - col("lo")))
          .cast("int"), lit(bins - 1)).as("bin"))
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).as("n"))
    val frame = binned.select(col("l_returnflag")).distinct()
      .crossJoin(s.range(bins).select(col("id").cast("int").as("bin")))
    frame.join(binned, Seq("l_returnflag", "bin"), "left")
      .select(col("l_returnflag"), col("bin"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("l_returnflag"), col("bin"))
  }

  val qHistogramSql: String =
    """WITH mm AS (
      |  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      |  FROM lineitem),
      |b AS (
      |  SELECT l_returnflag,
      |    LEAST(CAST(FLOOR((l_extendedprice - lo) * 20 / (hi - lo)) AS INT), 19)
      |      AS bin
      |  FROM lineitem, mm),
      |c AS (SELECT l_returnflag, bin, count(*) AS n FROM b GROUP BY 1, 2),
      |frame AS (
      |  SELECT g.l_returnflag, r.bin
      |  FROM (SELECT DISTINCT l_returnflag FROM b) g,
      |       (SELECT CAST(range AS INT) AS bin FROM range(20)) r)
      |SELECT frame.l_returnflag, frame.bin, COALESCE(c.n, 0) AS n
      |FROM frame LEFT JOIN c USING (l_returnflag, bin)
      |ORDER BY l_returnflag, bin""".stripMargin

  // -------------------------------------------------------------------------
  // Join-key skew audit
  // -------------------------------------------------------------------------

  /**
   * Join-key skew audit — the measurement behind every salting/AQE
   * decision (salting fixes skew; this FINDS it before it
   * burns a job): per candidate key column, the per-key count
   * distribution summarized as total rows, distinct keys, max/avg
   * ratio (the straggler factor) and the heaviest key's share. One
   * partial-aggregated pass per key column to the key grain (counts,
   * never rows), then 4-value aggregates; TakeOrdered nowhere needed
   * — output is one row per audited column. Ratios round at 4 dp on
   * exact integer inputs, so the gate hash-matches.
   */
  def qSkewAudit(s: SparkSession, dir: String): DataFrame = {
    val ev = Queries.eventsTable(s, dir)
    def audit(keyed: DataFrame, name: String): DataFrame = {
      val perKey = keyed.groupBy(col("k")).agg(count(lit(1)).as("c"))
      perKey.agg(
          sum(col("c")).as("n_rows"),
          count(lit(1)).as("n_keys"),
          max(col("c")).as("max_key_rows"),
          round(max(col("c")) * count(lit(1)).cast("double") / sum(col("c")), 4)
            .as("skew_factor"),
          round(max(col("c")).cast("double") / sum(col("c")), 4).as("top_share"))
        .select(lit(name).as("key_column"), col("n_rows"), col("n_keys"),
          col("max_key_rows"), col("skew_factor"), col("top_share"))
    }
    audit(ev.select(col("user_id").cast("string").as("k")), "user_id")
      .unionByName(audit(ev.select(col("event_type").as("k")), "event_type"))
      .unionByName(audit(
        t(s, dir, "lineitem").select(col("l_orderkey").cast("string").as("k")),
        "l_orderkey"))
      .orderBy(col("key_column"))
  }

  val qSkewAuditSql: String =
    """WITH u AS (
      |  SELECT CAST(user_id AS VARCHAR) AS k FROM events),
      |e AS (SELECT event_type AS k FROM events),
      |o AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
      |au AS (SELECT k, count(*) AS c FROM u GROUP BY k),
      |ae AS (SELECT k, count(*) AS c FROM e GROUP BY k),
      |ao AS (SELECT k, count(*) AS c FROM o GROUP BY k)
      |-- CAST(SUM AS BIGINT): DuckDB widens to HUGEINT (pandas float64)
      |SELECT * FROM (
      |  SELECT 'user_id' AS key_column, CAST(SUM(c) AS BIGINT) AS n_rows,
      |    count(*) AS n_keys, max(c) AS max_key_rows,
      |    ROUND(max(c) * CAST(count(*) AS DOUBLE) / SUM(c), 4) AS skew_factor,
      |    ROUND(CAST(max(c) AS DOUBLE) / SUM(c), 4) AS top_share
      |  FROM au
      |  UNION ALL
      |  SELECT 'event_type', CAST(SUM(c) AS BIGINT), count(*), max(c),
      |    ROUND(max(c) * CAST(count(*) AS DOUBLE) / SUM(c), 4),
      |    ROUND(CAST(max(c) AS DOUBLE) / SUM(c), 4)
      |  FROM ae
      |  UNION ALL
      |  SELECT 'l_orderkey', CAST(SUM(c) AS BIGINT), count(*), max(c),
      |    ROUND(max(c) * CAST(count(*) AS DOUBLE) / SUM(c), 4),
      |    ROUND(CAST(max(c) AS DOUBLE) / SUM(c), 4)
      |  FROM ao)
      |ORDER BY key_column""".stripMargin

  // -------------------------------------------------------------------------
  // TPC-H Q5: the multi-way fact⋈fact⋈dims join
  // -------------------------------------------------------------------------

  /**
   * TPC-H Q5-shaped local-supplier revenue — per nation in one region,
   * revenue from line items whose supplier and ordering customer share
   * that nation, within one order-date year. The canonical MULTI-WAY
   * join benchmark (two corpus-scaling facts, two corpus-scaling dims,
   * two tiny dims): join ORDER and side placement, not operator choice,
   * decide whether this survives 100 TB.
   *
   * Scale plan: the region cut reaches both SCALING dims first —
   * nation⋈region('ASIA') is tiny and broadcasts onto supplier and
   * customer, so every later join sees ~1/|regions| of each dim.
   * Customer and supplier GROW with the corpus (150 k / 10 k rows per
   * TPC-H SF — broadcasting them wholesale is the classic Q5 OOM), so
   * neither carries a broadcast hint: lineitem meets the reduced
   * supplier key-partitioned on suppkey, orders meets the reduced
   * customer on custkey, and the two halves meet on orderkey (AQE may
   * demote any of these to broadcast at small SF — a runtime win the
   * plan permits but never requires). The same-nation predicate rides
   * the orderkey join as two int columns, and revenue partial-aggregates
   * map-side into a ≤|nations| frame before the final exchange.
   */
  def q5Join(s: SparkSession, dir: String): DataFrame = {
    val asiaNations = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = t(s, dir, "supplier")
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val cust = t(s, dir, "customer")
      .join(broadcast(asiaNations.select(col("n_nationkey").as("cn_key"))),
        col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"), col("c_nationkey"))
    val ordCust = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ordCust, col("l_orderkey") === col("o_orderkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1) - col("l_discount").cast("decimal(3,2)")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5JoinSql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE c_nationkey = s_nationkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // -------------------------------------------------------------------------
  // Holt linear-trend forecast over the daily revenue series
  // -------------------------------------------------------------------------

  /**
   * Holt double-exponential (level + trend) forecasting over the daily
   * order-revenue series — the one-step-ahead baseline every capacity
   * or revenue dashboard runs before reaching for a model. α = 0.3,
   * β = 0.1, as EXACT integer recurrences on cent-scale longs:
   *
   *   f_t = l_{t−1} + b_{t−1}                      (forecast BEFORE seeing v_t)
   *   l_t = (3·v_t + 7·(l_{t−1} + b_{t−1})) / 10
   *   b_t = ((l_t − l_{t−1}) + 9·b_{t−1}) / 10
   *
   * Long division truncates toward zero in Scala and DuckDB `//`
   * truncates the same way (verified on negatives — trend CAN go
   * negative), so the oracle replays the entire chain bit-for-bit with
   * a recursive CTE: a hash gate for a sequential forecaster.
   *
   * Scale: the recurrence is inherently sequential, but it runs over
   * the DAY-grain frame — bounded by the calendar, never the corpus
   * (the q_ewma/q_kmv_cumulative series argument). The corpus-scale
   * work is the one partial-aggregated pass that builds the daily
   * totals; the driver fold is ≤ a few thousand (day, long) pairs,
   * with a loud cap rather than a silent giant collect.
   */
  def qForecast(s: SparkSession, dir: String, dayCap: Int = 100000): DataFrame = {
    val ord = t(s, dir, "orders")
    val daily = ord
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(orderDay(ord).as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("v"))
      .orderBy(col("day"))
    val rows = daily.limit(dayCap + 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    require(rows.nonEmpty, "q_forecast: empty series")
    require(rows.length <= dayCap,
      s"q_forecast: series exceeds $dayCap days — day-grain frames are " +
        "calendar-bounded; a cap hit means the grouping key is wrong")
    val out = Array.newBuilder[(Long, Double, Double, Double, Double)]
    var l = rows.head._2
    var b = 0L
    out += ((rows.head._1, l / 100.0, l / 100.0, l / 100.0, 0.0))
    rows.tail.foreach { case (day, v) =>
      val f = l + b
      val lNew = (3 * v + 7 * (l + b)) / 10
      val bNew = ((lNew - l) + 9 * b) / 10
      l = lNew; b = bNew
      out += ((day, v / 100.0, f / 100.0, l / 100.0, b / 100.0))
    }
    import s.implicits._
    out.result().toSeq.toDF("day", "actual", "forecast", "lvl", "trend")
      .orderBy(col("day"))
  }

  /** The identical integer chain as a recursive CTE — `//` truncates
    * toward zero like Scala long division, on negatives too. */
  val qForecastSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT epoch_us(o_orderdate::TIMESTAMP) // 86400000000 AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01'
      |  GROUP BY 1),
      |seq AS (SELECT row_number() OVER (ORDER BY day) AS i, day, v FROM daily),
      |rec AS (
      |  SELECT i, day, v, v AS f, v AS l, CAST(0 AS BIGINT) AS b
      |  FROM seq WHERE i = 1
      |  UNION ALL
      |  SELECT s.i, s.day, s.v,
      |    r.l + r.b AS f,
      |    (3 * s.v + 7 * (r.l + r.b)) // 10 AS l,
      |    (((3 * s.v + 7 * (r.l + r.b)) // 10 - r.l) + 9 * r.b) // 10 AS b
      |  FROM rec r JOIN seq s ON s.i = r.i + 1)
      |SELECT day, CAST(v AS DOUBLE) / 100 AS actual,
      |  CAST(f AS DOUBLE) / 100 AS forecast,
      |  CAST(l AS DOUBLE) / 100 AS lvl,
      |  CAST(b AS DOUBLE) / 100 AS trend
      |FROM rec
      |ORDER BY day""".stripMargin

  // -------------------------------------------------------------------------
  // Join-cardinality estimation (the CBO statistic)
  // -------------------------------------------------------------------------

  /**
   * Join-size estimation by COORDINATED key sampling — the statistic
   * behind every join-order / broadcast / salting decision
   * (q_skew_audit measures key skew; this predicts join OUTPUT).
   * |A ⋈ B| = Σ_k a_k·b_k; both sides keep only keys whose shared
   * deterministic uniform u(key) < 1/invTheta (sampling KEYS, not
   * rows — per-key fanout survives intact, which row-Bernoulli
   * sampling destroys), and the estimate Σ_sampled a_k·b_k · invTheta
   * is unbiased (Vengerov et al., VLDB'15 correlated sampling). The
   * exact twin rides along as the ground truth for the report.
   *
   * Scale: the estimate path filters on the key hash BEFORE any
   * aggregation — pushed to the scan, so only ~1/invTheta of the key
   * space crosses the per-side partial-agg shuffles; coordination via
   * the shared hash means the sampled key sets INTERSECT consistently
   * (independent per-side samples of rate θ would intersect at θ²,
   * wrecking the estimator). The exact twin is key-grain (count
   * frames, never row payloads). u(key) is the repo's xxhash64
   * uniform, so DuckDB replays both arms exactly → hash gate.
   */
  def qJoinSizeEst(s: SparkSession, dir: String, invTheta: Int = 16): DataFrame = {
    val theta = 1.0 / invTheta
    def edge(label: String, a: DataFrame, ak: String,
        b: DataFrame, bk: String): DataFrame = {
      val aK = a.select(col(ak).as("k"))
      val bK = b.select(col(bk).as("k"))
      def cnt(side: DataFrame, as: String, sampled: Boolean): DataFrame = {
        val base = if (sampled)
          side.filter(PipelineQueries.hashUniform(col("k").cast("string")) < theta)
        else side
        base.groupBy(col("k")).agg(count(lit(1)).as(as))
      }
      val exact = cnt(aK, "ca", sampled = false)
        .join(cnt(bK, "cb", sampled = false), "k")
        .agg(sum(col("ca") * col("cb")).cast("long").as("exact_rows"))
      val est = cnt(aK, "ca", sampled = true)
        .join(cnt(bK, "cb", sampled = true), "k")
        .agg(coalesce(sum(col("ca") * col("cb")) * invTheta, lit(0L))
          .cast("long").as("est_rows"))
      exact.crossJoin(est).select(
        lit(label).as("join_edge"), col("exact_rows"), col("est_rows"),
        round((col("est_rows") - col("exact_rows")).cast("double") /
          col("exact_rows"), 4).as("rel_err"))
    }
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    edge("lineitem_x_orders", li, "l_orderkey", ord, "o_orderkey")
      .unionAll(edge("lineitem_x_supplier", li, "l_suppkey",
        t(s, dir, "supplier"), "s_suppkey"))
      .unionAll(edge("orders_x_customer", ord, "o_custkey",
        t(s, dir, "customer"), "c_custkey"))
      .orderBy(col("join_edge"))
  }

  /** Both arms replayed per edge; the sampled arm joins the xxhash64
    * uniform rebuilt over the union of all key strings. Parameterized
    * on the same `invTheta` as the Spark side (r9 — a hardcoded rate
    * silently diverged for any non-default caller); the generated
    * literals `1.0/invTheta` and `invTheta` mirror `theta` exactly. */
  def qJoinSizeEstSql(invTheta: Int = 16): String = {
    val toSigned = DedupQueries.toSignedSql
    val theta = 1.0 / invTheta
    def edgeCtes(p: String, aTab: String, aKey: String,
        bTab: String, bKey: String): String =
      s"""${p}a AS (SELECT CAST($aKey AS VARCHAR) AS tk, count(*) AS ca
         |  FROM $aTab GROUP BY 1),
         |${p}b AS (SELECT CAST($bKey AS VARCHAR) AS tk, count(*) AS cb
         |  FROM $bTab GROUP BY 1),
         |${p}r AS (SELECT
         |  (SELECT CAST(SUM(ca * cb) AS BIGINT)
         |   FROM ${p}a JOIN ${p}b USING (tk)) AS exact_rows,
         |  (SELECT COALESCE(CAST(SUM(ca * cb) * $invTheta AS BIGINT), 0)
         |   FROM ${p}a JOIN ${p}b USING (tk) JOIN uni USING (tk)
         |   WHERE u < $theta) AS est_rows)""".stripMargin
    s"""WITH tok AS (
       |  SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS tk FROM lineitem
       |  UNION SELECT DISTINCT CAST(o_orderkey AS VARCHAR) FROM orders
       |  UNION SELECT DISTINCT CAST(l_suppkey AS VARCHAR) FROM lineitem
       |  UNION SELECT DISTINCT CAST(s_suppkey AS VARCHAR) FROM supplier
       |  UNION SELECT DISTINCT CAST(o_custkey AS VARCHAR) FROM orders
       |  UNION SELECT DISTINCT CAST(c_custkey AS VARCHAR) FROM customer),
       |${DedupQueries.xxHashTokenCtes},
       |uni AS (SELECT tk,
       |  GREATEST(LEAST(
       |    CAST($toSigned AS DOUBLE) / 18446744073709551616.0 + 0.5,
       |    0.9999999999999999), 5.421010862427522e-20) AS u
       |  FROM hashed),
       |${edgeCtes("e1", "lineitem", "l_orderkey", "orders", "o_orderkey")},
       |${edgeCtes("e2", "lineitem", "l_suppkey", "supplier", "s_suppkey")},
       |${edgeCtes("e3", "orders", "o_custkey", "customer", "c_custkey")}
       |SELECT * FROM (
       |  SELECT 'lineitem_x_orders' AS join_edge, exact_rows, est_rows,
       |    ROUND(CAST(est_rows - exact_rows AS DOUBLE) / exact_rows, 4) AS rel_err
       |  FROM e1r
       |  UNION ALL
       |  SELECT 'lineitem_x_supplier', exact_rows, est_rows,
       |    ROUND(CAST(est_rows - exact_rows AS DOUBLE) / exact_rows, 4)
       |  FROM e2r
       |  UNION ALL
       |  SELECT 'orders_x_customer', exact_rows, est_rows,
       |    ROUND(CAST(est_rows - exact_rows AS DOUBLE) / exact_rows, 4)
       |  FROM e3r)
       |ORDER BY join_edge""".stripMargin
  }

  // -------------------------------------------------------------------------
  // ROC AUC (rank statistic, window-free)
  // -------------------------------------------------------------------------

  /**
   * ROC AUC at corpus scale — the Mann–Whitney rank form, the first
   * number read off any quality-classifier or ranking-model eval
   * (label = order status F, score = total price in cents; the shape
   * is (label, score) generic). With the corpus collapsed to a
   * per-VALUE (pos, neg) histogram, AUC = Σ_v pos_v · (neg_below(v) +
   * neg_v/2) / (n₊·n₋) — tied scores get the standard half credit.
   * The ×2 trick keeps the half-credit integral (num2 = Σ pos_v ·
   * (2·cumneg_excl + neg_v), AUC = num2 / (2·n₊·n₋)), so everything
   * up to ONE final double division is exact integer/decimal
   * arithmetic and the gate hash-matches.
   *
   * Scale: one counts-only partial-agg pass to the value grain
   * (distinct scores cross the shuffle, never rows); the running
   * negative count is range-partitioned [[graft.operators.PrefixSum]]
   * — no Window, no single-task sort (a naive rank() over the row
   * grain is exactly the q_rfm failure shape this registry pins
   * against). Σ pos·cumneg products ride decimal(38,0) — two 19-digit
   * operands never overflow, at any corpus size.
   */
  def qAuc(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "orders")
      .select(round(col("o_totalprice") * 100).cast("long").as("v"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("p"))
      .groupBy(col("v"))
      .agg(sum(col("p")).as("pos"), (count(lit(1)) - sum(col("p"))).as("neg"))
      .withColumn("k", lit(1))
    graft.operators.PrefixSum.runningSum(h, Seq("k"), Seq("v"), "neg", "cumneg")
      .agg(
        sum(col("pos")).as("n_pos"),
        sum(col("neg")).as("n_neg"),
        sum(col("pos").cast("decimal(19,0)") *
          (lit(2L) * (col("cumneg") - col("neg")) + col("neg"))
            .cast("decimal(19,0)")).as("num2"))
      .select(col("n_pos"), col("n_neg"),
        // single-class input has no ranking to score — NULL, not a crash
        // (ANSI double/0 throws)
        when(col("n_pos") > 0 && col("n_neg") > 0,
          floor(col("num2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")) * 1e6 + 0.5) / 1e6)
          .as("auc"))
  }

  /** Same value-grain histogram, same ×2 integer credit, same single
    * double division (DuckDB's window is the oracle's privilege — the
    * Spark side stays window-free). */
  val qAucSql: String =
    """WITH r AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS p
      |  FROM orders),
      |h AS (SELECT v, SUM(p) AS pos, COUNT(*) - SUM(p) AS neg FROM r GROUP BY v),
      |c AS (SELECT pos, neg, SUM(neg) OVER (ORDER BY v) AS cumneg FROM h)
      |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg,
      |  CASE WHEN SUM(pos) > 0 AND SUM(neg) > 0 THEN
      |    FLOOR(CAST(SUM(CAST(pos AS HUGEINT) * (2*(cumneg - neg) + neg)) AS DOUBLE)
      |          / (2.0 * SUM(pos) * SUM(neg)) * 1e6 + 0.5) / 1e6
      |  END AS auc
      |FROM c""".stripMargin

  // -------------------------------------------------------------------------
  // Population stability index (distribution drift)
  // -------------------------------------------------------------------------

  /**
   * Population stability index — the score/feature drift number risk
   * and ML-platform teams alert on (PSI > 0.25 = retrain): 20
   * equal-width bins over the GLOBAL price range, baseline (orders
   * (orders up to the data-derived median day, [[medianEpochDay]])
   * vs current bin shares, per-bin term
   * `(q−p)·ln(q/p)` with zero shares floored at 1e−6 (the standard
   * industrial convention — and deterministic, unlike smoothing by
   * sampled priors). Output is the dense 20-bin frame (an empty bin
   * IS signal: mass moved); Σ psi_term is the headline number.
   *
   * Scale: exactly the [[qHistogram]] discipline — a 1-row min/max
   * frame broadcast onto a counts-only partial agg; the bin frame is
   * 20 rows. The bin expression and the term chain are the identical
   * double ops in both engines, so the gate hash-matches.
   */
  def qPsi(s: SparkSession, dir: String, bins: Int = 20): DataFrame = {
    val md = medianEpochDay(t(s, dir, "orders"), "o_orderdate",
      splitKey(s, dir, "orders"))
    val ord = t(s, dir, "orders")
    val o = ord.select(col("o_totalprice").as("v"),
      (orderDay(ord) <= md).as("base"))
    val mm = o.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val binned = o.crossJoin(broadcast(mm))
      // hi == lo (a constant price column) -> everything in bin 0, not
      // an ANSI divide-by-zero crash (the embQuantizeError guard)
      .select(when(col("hi") > col("lo"),
        least(floor((col("v") - col("lo")) * bins / (col("hi") - col("lo")))
          .cast("int"), lit(bins - 1))).otherwise(lit(0)).as("bin"),
        col("base"))
      .groupBy(col("bin"))
      .agg(sum(when(col("base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("base"), 0L).otherwise(1L)).as("n_cur"))
    val tot = binned.agg(sum(col("n_base")).as("tb"), sum(col("n_cur")).as("tc"))
    s.range(bins).select(col("id").cast("int").as("bin"))
      .join(binned, Seq("bin"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bin"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        // greatest(tot, 1): an entirely-empty period reads as the floor
        // everywhere instead of an ANSI divide-by-zero crash
        greatest(coalesce(col("n_base"), lit(0L)).cast("double") /
          greatest(col("tb"), lit(1L)), lit(1e-6)).as("p"),
        greatest(coalesce(col("n_cur"), lit(0L)).cast("double") /
          greatest(col("tc"), lit(1L)), lit(1e-6)).as("q"))
      .select(col("bin"), col("n_base"), col("n_cur"),
        (floor((col("q") - col("p")) * log(col("q") / col("p")) * 1e6 + 0.5)
          / 1e6).as("psi_term"))
      .orderBy(col("bin"))
  }

  /** Identical bin expression, identical 1e-6 floor, identical term
    * chain — ln() on the same doubles. */
  lazy val qPsiSql: String =
    s"""WITH ${medianDaySqlCtes("p", "orders", "o_orderdate")},
      |o AS (
      |  SELECT o_totalprice AS v,
      |    epoch_us(o_orderdate) // 86400000000 <= (SELECT md FROM pmd) AS base
      |  FROM orders),
      |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM o),
      |b AS (SELECT CASE WHEN hi > lo
      |          THEN LEAST(CAST(FLOOR((v - lo) * 20 / (hi - lo)) AS INT), 19)
      |          ELSE 0 END AS bin,
      |        base FROM o, mm),
      |c AS (SELECT bin,
      |        SUM(CASE WHEN base THEN 1 ELSE 0 END) AS n_base,
      |        SUM(CASE WHEN base THEN 0 ELSE 1 END) AS n_cur
      |      FROM b GROUP BY bin),
      |tot AS (SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM c),
      |frame AS (SELECT CAST(range AS INT) AS bin FROM range(20)),
      |j AS (SELECT frame.bin,
      |        COALESCE(c.n_base, 0) AS n_base, COALESCE(c.n_cur, 0) AS n_cur
      |      FROM frame LEFT JOIN c USING (bin)),
      |pq AS (SELECT bin, n_base, n_cur,
      |        GREATEST(CAST(n_base AS DOUBLE) / GREATEST(tb, 1), 1e-6) AS p,
      |        GREATEST(CAST(n_cur AS DOUBLE) / GREATEST(tc, 1), 1e-6) AS q
      |      FROM j, tot)
      |SELECT bin, CAST(n_base AS BIGINT) AS n_base, CAST(n_cur AS BIGINT) AS n_cur,
      |  FLOOR((q - p) * ln(q / p) * 1e6 + 0.5) / 1e6 AS psi_term
      |FROM pq ORDER BY bin""".stripMargin

  // -------------------------------------------------------------------------
  // Decile gains / lift table
  // -------------------------------------------------------------------------

  /**
   * Decile gains/lift table — the targeting-model report every
   * campaign reads before spending: rows ranked by score (total price
   * descending), cut into 10 population deciles, each reporting its
   * response rate (status-F share), lift vs the base rate, and the
   * cumulative capture of all responders through that decile.
   *
   * Decile assignment happens at the VALUE grain: each distinct score
   * carries its per-value (rows, responders) counts plus a running
   * row count from range-partitioned [[graft.operators.PrefixSum]]
   * (ascending on the NEGATED score = descending rank), and the whole
   * tied-value group lands in the decile of its FIRST row —
   * `1 + (10·cum_before) div n`, exact long `div` — a deterministic
   * tie policy both engines replay bit-for-bit (ntile()'s boundary
   * splitting of tied values depends on an arbitrary within-tie
   * order, which a hash gate cannot tolerate). The only window runs
   * over the ≤10-row decile frame (whitelisted in WindowAuditSpec).
   */
  def qLift(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "orders")
      .select(round(col("o_totalprice") * 100).cast("long").as("v"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("r"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("nrows"), sum(col("r")).as("resp"))
      .withColumn("k", lit(1))
      .withColumn("negv", -col("v"))
    val cum = graft.operators.PrefixSum
      .runningSum(h, Seq("k"), Seq("negv"), "nrows", "cumrows")
    val tot = cum.agg(sum(col("nrows")).as("n"), sum(col("resp")).as("nr"))
    val deciles = cum.crossJoin(broadcast(tot))
      .select(least(lit(10L),
          lit(1L) + expr("(10 * (cumrows - nrows)) div n")).as("decile"),
        col("nrows"), col("resp"), col("n"), col("nr"))
      .groupBy(col("decile"))
      .agg(sum(col("nrows")).as("n_rows"), sum(col("resp")).as("n_resp"),
        first(col("n")).as("n"), first(col("nr")).as("nr"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles
      .withColumn("cum_resp", sum(col("n_resp")).over(w))
      .select(col("decile"), col("n_rows"), col("n_resp"),
        round(col("n_resp").cast("double") / col("n_rows"), 4)
          .as("response_rate"),
        // zero responders anywhere -> lift/capture undefined (NULL), not
        // an ANSI divide-by-zero crash
        // denominator multiplies in DOUBLE: long n_rows*nr overflows
        // ANSI at ~1e10 rows (the qAuc 2.0*... discipline)
        when(col("nr") > 0, round(col("n_resp").cast("double") * col("n") /
          (col("n_rows").cast("double") * col("nr")), 4)).as("lift"),
        when(col("nr") > 0,
          round(col("cum_resp").cast("double") / col("nr"), 4))
          .as("cum_capture"))
      .orderBy(col("decile"))
  }

  // -------------------------------------------------------------------------
  // Table checksum (replication / migration integrity)
  // -------------------------------------------------------------------------

  /**
   * Order-independent table fingerprints — the first thing two sides
   * of a 100 TB replication, migration, or backfill compare before
   * anyone diffs rows: per table, the row count plus two 64-bit
   * content signatures over a canonical ASCII row token —
   * `bit_xor(xxhash64(token))` (order- and partition-independent;
   * catches any single changed row) and a modular hash sum (catches
   * what XOR is blind to: a row duplicated an even number of times, or
   * two copies of the same wrong row canceling). Tokens embed each
   * table's primary key, so they are unique per row by construction
   * and exact-count-preserving.
   *
   * Scale: ONE projection-pruned scan per table into a 1-row partial
   * aggregate — no shuffle beyond the agg merge, no sort, nothing
   * driver-side. The modular sum rides decimal(38,0) (a long sum of
   * 2²⁰-bounded terms overflows ANSI at ~10¹³ rows; decimal never
   * does). Oracle: the repo's byte-exact xxhash64 transcription
   * (DedupQueries.xxHashTokenCtes) replays every token hash in DuckDB
   * — a hash gate over hash functions.
   */
  def qTableChecksum(s: SparkSession, dir: String): DataFrame = {
    val M = 1000003L
    def sig(df: DataFrame, name: String, token: Column): DataFrame =
      df.select(xxhash64(token).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_sig"),
          (sum(((col("h") % M + M) % M).cast("decimal(38,0)")) % M)
            .cast("long").as("sum_sig"))
        .select(lit(name).as("table_name"), col("n_rows"),
          col("xor_sig"), col("sum_sig"))
    val o = sig(t(s, dir, "orders"), "orders",
      concat(lit("o:"), col("o_orderkey"), lit(":"),
        round(col("o_totalprice") * 100).cast("long"), lit(":"),
        col("o_orderstatus")))
    val l = sig(t(s, dir, "lineitem"), "lineitem",
      concat(lit("l:"), col("l_orderkey"), lit(":"), col("l_linenumber"),
        lit(":"), round(col("l_extendedprice") * 100).cast("long")))
    val c = sig(t(s, dir, "customer"), "customer",
      concat(lit("c:"), col("c_custkey"), lit(":"), col("c_nationkey")))
    o.unionAll(l).unionAll(c).orderBy(col("table_name"))
  }

  /** Same tokens, same transcribed xxhash64, same XOR + modular sum.
    * Tokens are per-row UNIQUE (primary keys embedded), so the
    * transcription's DISTINCT-token hashing loses nothing. */
  lazy val qTableChecksumSql: String = {
    val toSigned = DedupQueries.toSignedSql
    val M = "1000003"
    s"""WITH tok AS (
       |  SELECT 'orders' AS tbl, 'o:' || o_orderkey || ':' ||
       |    CAST(round(o_totalprice * 100) AS BIGINT) || ':' || o_orderstatus AS tk
       |  FROM orders
       |  UNION ALL
       |  SELECT 'lineitem', 'l:' || l_orderkey || ':' || l_linenumber || ':' ||
       |    CAST(round(l_extendedprice * 100) AS BIGINT)
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'customer', 'c:' || c_custkey || ':' || c_nationkey
       |  FROM customer),
       |${DedupQueries.xxHashTokenCtes},
       |sh AS (SELECT tok.tbl, $toSigned AS hs
       |       FROM tok JOIN hashed ON tok.tk = hashed.tk)
       |SELECT tbl AS table_name, count(*) AS n_rows,
       |  bit_xor(hs) AS xor_sig,
       |  CAST(SUM((hs % $M + $M) % $M) % $M AS BIGINT) AS sum_sig
       |FROM sh GROUP BY tbl
       |ORDER BY table_name""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Growth accounting (new / retained / resurrected / churned)
  // -------------------------------------------------------------------------

  /**
   * Growth accounting — the standard decomposition of an active-user
   * curve (new / retained / resurrected / churned per day) that turns
   * "DAU moved" into "because WHICH flows moved". Per (user, day)
   * activity, each user-day is classified off the user's PREVIOUS
   * active day (none → new; yesterday → retained; earlier →
   * resurrected), and a user whose NEXT active day is not tomorrow
   * churns at day+1. The identity `active(t) = new(t) + retained(t) +
   * resurrected(t)` and the flow identity `active(t) = active(t−1) −
   * churned(t) + new(t) + resurrected(t)` both hold exactly
   * (spec-pinned). Output: the dense observed-range day frame.
   *
   * Scale: one distinct to the (user, day) grain, then lag/lead
   * windows PARTITIONED BY USER (entity-keyed — never a global or
   * low-cardinality sort; the q_rfm lesson), then day-grain counts.
   */
  def qGrowth(s: SparkSession, dir: String): DataFrame = {
    val ud = Queries.eventsTable(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val classed = ud
      .withColumn("prev", lag(col("d"), 1).over(w))
      .withColumn("next", lead(col("d"), 1).over(w))
    val flows = classed.groupBy(col("d"))
      .agg(count(lit(1)).as("active"),
        sum(when(col("prev").isNull, 1L).otherwise(0L)).as("new_users"),
        sum(when(col("prev") === col("d") - 1, 1L).otherwise(0L)).as("retained"),
        sum(when(col("prev").isNotNull && col("prev") < col("d") - 1, 1L)
          .otherwise(0L)).as("resurrected"))
    val churn = classed
      .filter(col("next").isNull || col("next") > col("d") + 1)
      .groupBy((col("d") + 1).as("d")).agg(count(lit(1)).as("churned"))
    val mm = ud.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    mm.select(explode(sequence(col("lo"), col("hi"))).as("d"))
      .join(flows, Seq("d"), "left").join(churn, Seq("d"), "left")
      .select(col("d"),
        coalesce(col("active"), lit(0L)).as("active"),
        coalesce(col("new_users"), lit(0L)).as("new_users"),
        coalesce(col("retained"), lit(0L)).as("retained"),
        coalesce(col("resurrected"), lit(0L)).as("resurrected"),
        coalesce(col("churned"), lit(0L)).as("churned"))
      .orderBy(col("d"))
  }

  /** Same day rule, same per-user lag/lead classification. */
  val qGrowthSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts::TIMESTAMP) // 86400000000 AS d
      |  FROM events),
      |cl AS (
      |  SELECT user_id, d,
      |    lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev,
      |    lead(d) OVER (PARTITION BY user_id ORDER BY d) AS next
      |  FROM ud),
      |flows AS (
      |  SELECT d, count(*) AS active,
      |    SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS new_users,
      |    SUM(CASE WHEN prev = d - 1 THEN 1 ELSE 0 END) AS retained,
      |    SUM(CASE WHEN prev IS NOT NULL AND prev < d - 1 THEN 1 ELSE 0 END)
      |      AS resurrected
      |  FROM cl GROUP BY d),
      |churn AS (
      |  SELECT d + 1 AS d, count(*) AS churned
      |  FROM cl WHERE next IS NULL OR next > d + 1 GROUP BY d + 1),
      |frame AS (
      |  SELECT unnest(range((SELECT min(d) FROM ud), (SELECT max(d) FROM ud) + 1))
      |    AS d)
      |SELECT frame.d,
      |  COALESCE(flows.active, 0) AS active,
      |  CAST(COALESCE(flows.new_users, 0) AS BIGINT) AS new_users,
      |  CAST(COALESCE(flows.retained, 0) AS BIGINT) AS retained,
      |  CAST(COALESCE(flows.resurrected, 0) AS BIGINT) AS resurrected,
      |  COALESCE(churn.churned, 0) AS churned
      |FROM frame LEFT JOIN flows USING (d) LEFT JOIN churn USING (d)
      |ORDER BY frame.d""".stripMargin

  // -------------------------------------------------------------------------
  // Conversion-lag distribution
  // -------------------------------------------------------------------------

  /**
   * Conversion-lag distribution — days between a user's first signup
   * and first purchase, the funnel-velocity number behind payback and
   * activation dashboards (`q_funnel` counts WHO converts; this is
   * HOW FAST). One conditional-min pass to the user grain (first
   * signup ts, first purchase ts — no per-user sort), lag bucketed by
   * integer day `div` (truncation toward zero in both engines, so
   * purchase-before-signup shows up as NEGATIVE buckets — a
   * data-quality signal worth surfacing, not filtering). Output:
   * observed (delay_day, n_users).
   *
   * Scale: ONE user-keyed partial agg, then a bucket-grain count —
   * nothing row-grain after the first pass, no windows.
   */
  def qConversionLag(s: SparkSession, dir: String): DataFrame =
    Queries.eventsTable(s, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", expr("unix_micros(ts)")))
          .as("s_us"),
        min(when(col("event_type") === "purchase", expr("unix_micros(ts)")))
          .as("p_us"))
      .filter(col("s_us").isNotNull && col("p_us").isNotNull)
      .select(expr("(p_us - s_us) div 86400000000").as("delay_day"))
      .groupBy(col("delay_day")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("delay_day"))

  /** Same conditional mins; DuckDB `//` and Spark `div` both truncate
    * toward zero, so negative lags bucket
    * identically. */
  val qConversionLagSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup'
      |             THEN epoch_us(ts::TIMESTAMP) END) AS s_us,
      |    min(CASE WHEN event_type = 'purchase'
      |             THEN epoch_us(ts::TIMESTAMP) END) AS p_us
      |  FROM events GROUP BY user_id),
      |lagd AS (
      |  SELECT (p_us - s_us) // 86400000000 AS delay_day
      |  FROM u WHERE s_us IS NOT NULL AND p_us IS NOT NULL)
      |SELECT delay_day, count(*) AS n_users
      |FROM lagd GROUP BY delay_day
      |ORDER BY delay_day""".stripMargin

  // -------------------------------------------------------------------------
  // Event-time lateness audit (watermark sizing)
  // -------------------------------------------------------------------------

  /**
   * Event-time lateness audit — the measurement behind every streaming
   * watermark choice (`withWatermark("10 minutes")` is a guess until
   * someone measures how late the data actually arrives; late rows are
   * silently DROPPED by windowed aggs, so an undersized watermark is
   * invisible data loss): per user, each event's lateness is the gap
   * between the user's running-max event time over ARRIVAL order
   * (event_id) and its own event time — 0 for in-order arrivals —
   * histogrammed into minute buckets. The cumulative share over the
   * output IS the watermark table ("99 % of events arrive within X").
   *
   * Scale: ONE window PARTITIONED BY USER over arrival order
   * (entity-keyed — never global; a global running max is the
   * unpartitioned-window scale-killer this registry pins against),
   * then minute-grain counts. Lateness is exact integer micros
   * throughout.
   */
  def qLateness(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Queries.eventsTable(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("runmax", max(col("us")).over(w))
      .select(expr("((runmax - us) div 60000000)").as("late_min"))
      .groupBy(col("late_min")).agg(count(lit(1)).as("n_events"))
      .orderBy(col("late_min"))
  }

  /** Same per-user running max over arrival order, same minute rule. */
  val qLatenessSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us FROM events),
      |r AS (
      |  SELECT us, max(us) OVER (
      |    PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
      |  FROM e)
      |SELECT (runmax - us) // 60000000 AS late_min, count(*) AS n_events
      |FROM r GROUP BY late_min
      |ORDER BY late_min""".stripMargin

  // -------------------------------------------------------------------------
  // Data-derived period split (r9 — the r8 verdict's #8)
  // -------------------------------------------------------------------------

  /** Per-(session, dir, table) memo of the split day — the split is a
    * corpus constant; don't re-derive it per invocation. */
  private val splitDayCache = new graft.operators.SessionMemo[java.lang.Long]()

  /**
   * The LOWER-MEDIAN epoch day of a timestamp column — the
   * data-derived base/current (or pre/post) period split the drift
   * and experimentation families share (r9: the `≤ 1997` /
   * `day-of-month ≤ 15` literals were generation-specific calendar
   * facts; a date-shifted corpus silently degenerated the split to
   * one empty period). Lower median = the smallest active day d with
   * `2·count(rows on days ≤ d) ≥ count(*)` — deterministic, and
   * replayed IN-SQL by [[medianDaySqlCtes]], so both engines
   * re-derive the identical constant on any corpus (the hash gate
   * stays closed on regenerated, date-shifted testdata).
   *
   * The day-grain count frame is CALENDAR-bounded (one row per active
   * day), so the driver collect is the q_ewma discipline, not a
   * corpus-sized pull.
   */
  private[graft] def medianEpochDay(df: DataFrame, tsCol: String,
      cacheKey: String): Long =
    splitDayCache.getOrElseUpdate(cacheKey, {
      val byDay = df
        .select(epochDayExpr(df, tsCol).as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      require(byDay.nonEmpty, s"medianEpochDay: $tsCol has no rows")
      val total = byDay.map(_._2).sum
      var cum = 0L
      java.lang.Long.valueOf(
        byDay.find { case (_, n) => cum += n; 2 * cum >= total }.get._1)
    }).longValue

  private[graft] def splitKey(s: SparkSession, dir: String, table: String): String =
    s"${graft.operators.SessionMemo.sessionKey(s)}#$dir#$table#splitday"

  /** [[medianEpochDay]] replayed by the oracle: two `$p`-prefixed CTEs
    * (`${p}bd` day counts, `${p}md` the lower-median day); read the
    * constant as `(SELECT md FROM ${p}md)`. `epoch_us(ts) //
    * 86400000000` mirrors Spark's `unix_micros(ts) div 86400000000`
    * exactly (both floor-divide microseconds). */
  private[graft] def medianDaySqlCtes(p: String, table: String,
      tsCol: String): String =
    s"""${p}bd AS (
       |  SELECT epoch_us($tsCol) // 86400000000 AS d, count(*) AS n
       |  FROM $table GROUP BY 1),
       |${p}md AS (
       |  SELECT min(d) AS md FROM (
       |    SELECT d, SUM(n) OVER (ORDER BY d) AS cum,
       |      SUM(n) OVER () AS nn
       |    FROM ${p}bd) t
       |  WHERE 2 * cum >= nn)""".stripMargin

  /** The deterministic 50/50 user split the whole experiment family
    * shares — batch guardrails AND [[graft.streaming.StreamOps
    * .experimentStream]] (private[graft] so the stream cannot drift
    * from the batch arms) — the md5 hash-bucket discipline of q_sample
    * (stable across engines/runs, no RNG). */
  private[graft] def armOf(id: Column): Column =
    when(substring(md5(concat(lit("graft:"), id.cast("string"))
      .cast("binary")), 1, 4) < "8000", "a").otherwise("b")

  /**
   * Sample-ratio mismatch — the FIRST check any experiment readout
   * runs (a biased assignment invalidates every downstream metric;
   * SRM is the canonical silent experiment-killer): distinct users per
   * arm under the deterministic 50/50 hash split, chi-square against
   * the expected equal split (df=1), flag at the 95 % critical value
   * 3.841459. One distinct + one 1-row aggregate.
   */
  def qAbSrm(s: SparkSession, dir: String): DataFrame =
    Queries.eventsTable(s, dir).select(col("user_id")).distinct()
      .select(armOf(col("user_id")).as("arm"))
      .agg(sum(when(col("arm") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "b", 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        (floor(lit(2.0) * pow(col("n_a") - (col("n_a") + col("n_b")) / 2.0, 2)
          / ((col("n_a") + col("n_b")) / 2.0) * 1e6 + 0.5) / 1e6).as("chi2"))
      .withColumn("srm", col("chi2") > 3.841459)

  /** Same split, same chi-square chain. */
  val qAbSrmSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |arms AS (
      |  SELECT CASE WHEN substr(md5('graft:' || CAST(user_id AS VARCHAR)), 1, 4)
      |                < '8000' THEN 'a' ELSE 'b' END AS arm
      |  FROM u),
      |c AS (
      |  SELECT CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |         CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM arms)
      |SELECT n_a, n_b,
      |  FLOOR(2.0 * pow(n_a - (n_a + n_b) / 2.0, 2)
      |        / ((n_a + n_b) / 2.0) * 1e6 + 0.5) / 1e6 AS chi2,
      |  FLOOR(2.0 * pow(n_a - (n_a + n_b) / 2.0, 2)
      |        / ((n_a + n_b) / 2.0) * 1e6 + 0.5) / 1e6 > 3.841459 AS srm
      |FROM c""".stripMargin

  /**
   * Ratio-metric confidence interval by the DELTA METHOD — the
   * experiment statistic teams most often get wrong: for a ratio of
   * sums like revenue-per-event, `t.test` on per-user ratios is
   * biased (users with one event dominate) and treating the ratio as
   * a mean ignores the denominator's variance. Correct form: with
   * per-user (x=value cents, y=events), R = Σx/Σy and
   * Var(R) ≈ (σx² − 2R·σxy + R²·σy²)/(n·ȳ²) — both arms from ONE
   * user-grain pass of exact decimal moment sums (Σx, Σy, Σx², Σy²,
   * Σxy per arm), then a fixed double chain for R/SE/z. Output: one
   * row, ratios in value-cents per event.
   *
   * Scale: user-keyed partial agg → 1-row moment aggregate; nothing
   * row-grain after the first pass. Moment sums are decimal(38,0)
   * exact.
   */
  def qRatioCi(s: SparkSession, dir: String): DataFrame = {
    val perUser = Queries.eventsTable(s, dir)
      .select(col("user_id"), round(col("value") * 100).cast("long").as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).cast("decimal(18,0)").as("x"),
        count(lit(1)).cast("decimal(18,0)").as("y"))
      .select(armOf(col("user_id")).as("arm"), col("x"), col("y"))
    def m(arm: String, e: Column) =
      sum(when(col("arm") === arm, e).otherwise(lit(0).cast("decimal(38,0)")))
    val agg = perUser.agg(
      sum(when(col("arm") === "a", 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === "b", 1L).otherwise(0L)).as("nb"),
      m("a", col("x")).as("sxa"), m("a", col("y")).as("sya"),
      m("a", col("x") * col("x")).as("sxxa"),
      m("a", col("y") * col("y")).as("syya"),
      m("a", col("x") * col("y")).as("sxya"),
      m("b", col("x")).as("sxb"), m("b", col("y")).as("syb"),
      m("b", col("x") * col("x")).as("sxxb"),
      m("b", col("y") * col("y")).as("syyb"),
      m("b", col("x") * col("y")).as("sxyb"))
    def arm(n: Column, sx: Column, sy: Column, sxx: Column, syy: Column,
        sxy: Column): (Column, Column) = {
      val nd = n.cast("double")
      val mx = sx.cast("double") / nd
      val my = sy.cast("double") / nd
      val r = sx.cast("double") / sy.cast("double")
      val varx = sxx.cast("double") / nd - mx * mx
      val vary = syy.cast("double") / nd - my * my
      val covxy = sxy.cast("double") / nd - mx * my
      val se2 = (varx - lit(2.0) * r * covxy + r * r * vary) / (nd * my * my)
      (r, se2)
    }
    val (ra, sa2) = arm(col("na"), col("sxa"), col("sya"), col("sxxa"),
      col("syya"), col("sxya"))
    val (rb, sb2) = arm(col("nb"), col("sxb"), col("syb"), col("sxxb"),
      col("syyb"), col("sxyb"))
    agg.select(col("na").as("n_a"), col("nb").as("n_b"),
        (floor(ra * 1e6 + 0.5) / 1e6).as("ratio_a"),
        (floor(rb * 1e6 + 0.5) / 1e6).as("ratio_b"),
        (floor((ra - rb) * 1e6 + 0.5) / 1e6).as("diff"),
        (floor(sqrt(sa2 + sb2) * 1e6 + 0.5) / 1e6).as("se"),
        (floor((ra - rb) / sqrt(sa2 + sb2) * 1e4 + 0.5) / 1e4).as("z"))
      .withColumn("significant", abs(col("z")) > 1.959964)
  }

  /** Same per-user moments, same delta-method chain, op for op. */
  val qRatioCiSql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS x,
      |    CAST(count(*) AS HUGEINT) AS y
      |  FROM events GROUP BY user_id),
      |armed AS (
      |  SELECT CASE WHEN substr(md5('graft:' || CAST(user_id AS VARCHAR)), 1, 4)
      |                < '8000' THEN 'a' ELSE 'b' END AS arm, x, y
      |  FROM pu),
      |agg AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
      |    SUM(CASE WHEN arm = 'a' THEN x ELSE 0 END) AS sxa,
      |    SUM(CASE WHEN arm = 'a' THEN y ELSE 0 END) AS sya,
      |    SUM(CASE WHEN arm = 'a' THEN x * x ELSE 0 END) AS sxxa,
      |    SUM(CASE WHEN arm = 'a' THEN y * y ELSE 0 END) AS syya,
      |    SUM(CASE WHEN arm = 'a' THEN x * y ELSE 0 END) AS sxya,
      |    SUM(CASE WHEN arm = 'b' THEN x ELSE 0 END) AS sxb,
      |    SUM(CASE WHEN arm = 'b' THEN y ELSE 0 END) AS syb,
      |    SUM(CASE WHEN arm = 'b' THEN x * x ELSE 0 END) AS sxxb,
      |    SUM(CASE WHEN arm = 'b' THEN y * y ELSE 0 END) AS syyb,
      |    SUM(CASE WHEN arm = 'b' THEN x * y ELSE 0 END) AS sxyb
      |  FROM armed),
      |f AS (
      |  SELECT na, nb,
      |    CAST(sxa AS DOUBLE) / CAST(sya AS DOUBLE) AS ra,
      |    CAST(sxb AS DOUBLE) / CAST(syb AS DOUBLE) AS rb,
      |    (CAST(sxxa AS DOUBLE) / na
      |       - (CAST(sxa AS DOUBLE) / na) * (CAST(sxa AS DOUBLE) / na)
      |     - 2.0 * (CAST(sxa AS DOUBLE) / CAST(sya AS DOUBLE))
      |       * (CAST(sxya AS DOUBLE) / na
      |          - (CAST(sxa AS DOUBLE) / na) * (CAST(sya AS DOUBLE) / na))
      |     + (CAST(sxa AS DOUBLE) / CAST(sya AS DOUBLE))
      |       * (CAST(sxa AS DOUBLE) / CAST(sya AS DOUBLE))
      |       * (CAST(syya AS DOUBLE) / na
      |          - (CAST(sya AS DOUBLE) / na) * (CAST(sya AS DOUBLE) / na)))
      |    / (na * (CAST(sya AS DOUBLE) / na) * (CAST(sya AS DOUBLE) / na))
      |      AS sa2,
      |    (CAST(sxxb AS DOUBLE) / nb
      |       - (CAST(sxb AS DOUBLE) / nb) * (CAST(sxb AS DOUBLE) / nb)
      |     - 2.0 * (CAST(sxb AS DOUBLE) / CAST(syb AS DOUBLE))
      |       * (CAST(sxyb AS DOUBLE) / nb
      |          - (CAST(sxb AS DOUBLE) / nb) * (CAST(syb AS DOUBLE) / nb))
      |     + (CAST(sxb AS DOUBLE) / CAST(syb AS DOUBLE))
      |       * (CAST(sxb AS DOUBLE) / CAST(syb AS DOUBLE))
      |       * (CAST(syyb AS DOUBLE) / nb
      |          - (CAST(syb AS DOUBLE) / nb) * (CAST(syb AS DOUBLE) / nb)))
      |    / (nb * (CAST(syb AS DOUBLE) / nb) * (CAST(syb AS DOUBLE) / nb))
      |      AS sb2
      |  FROM agg)
      |SELECT na AS n_a, nb AS n_b,
      |  FLOOR(ra * 1e6 + 0.5) / 1e6 AS ratio_a,
      |  FLOOR(rb * 1e6 + 0.5) / 1e6 AS ratio_b,
      |  FLOOR((ra - rb) * 1e6 + 0.5) / 1e6 AS diff,
      |  FLOOR(sqrt(sa2 + sb2) * 1e6 + 0.5) / 1e6 AS se,
      |  FLOOR((ra - rb) / sqrt(sa2 + sb2) * 1e4 + 0.5) / 1e4 AS z,
      |  abs(FLOOR((ra - rb) / sqrt(sa2 + sb2) * 1e4 + 0.5) / 1e4) > 1.959964
      |    AS significant
      |FROM f""".stripMargin

  /**
   * CUPED variance reduction (r8) — the modern experimentation
   * primitive (Deng et al. WSDM'13): adjust each user's experiment
   * metric by their PRE-period behavior, `y = post − θ·(pre − p̄)`
   * with `θ = cov(pre, post)/var(pre)` pooled, which shrinks metric
   * variance by exactly ρ² (the pre/post correlation squared) without
   * biasing the arm difference. The two numbers a platform quotes —
   * θ and the variance-reduction share — plus the raw and adjusted
   * arm differences, all from ONE user-grain pass: per-user pre/post
   * cent sums (days 1–15 vs 16+ of the event window), exact decimal
   * moment sums (Σpre, Σpost, Σpre², Σpost², Σpre·post + per-arm
   * Σpost, Σpre, n), then a fixed double chain both engines replay op
   * for op. Var(y) needs no second pass: var_post − 2θ·cov + θ²·var_pre.
   *
   * Scale: user-keyed partial agg → 1-row moments. Nothing row-grain
   * after the first pass; the md5 arm split is the q_ab_srm shared
   * definition.
   */
  def qCuped(s: SparkSession, dir: String): DataFrame = {
    val md = medianEpochDay(Queries.eventsTable(s, dir), "ts",
      splitKey(s, dir, "events"))
    val perUser = Queries.eventsTable(s, dir)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("c"),
        (expr("unix_micros(ts) div 86400000000") <= md).as("pre"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("pre"), col("c")).otherwise(0L).cast("decimal(18,0)"))
          .cast("decimal(18,0)").as("x"),
        sum(when(col("pre"), 0L).otherwise(col("c")).cast("decimal(18,0)"))
          .cast("decimal(18,0)").as("y"))
      .select(armOf(col("user_id")).as("arm"), col("x"), col("y"))
    val agg = perUser.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(when(col("arm") === "a", 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === "b", 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === "a", col("x")).otherwise(lit(0)
        .cast("decimal(18,0)"))).as("sxa"),
      sum(when(col("arm") === "a", col("y")).otherwise(lit(0)
        .cast("decimal(18,0)"))).as("sya"),
      sum(when(col("arm") === "b", col("x")).otherwise(lit(0)
        .cast("decimal(18,0)"))).as("sxb"),
      sum(when(col("arm") === "b", col("y")).otherwise(lit(0)
        .cast("decimal(18,0)"))).as("syb"))
    val nd = col("n").cast("double")
    val mx = col("sx").cast("double") / nd
    val my = col("sy").cast("double") / nd
    val varx = col("sxx").cast("double") / nd - mx * mx
    val vary = col("syy").cast("double") / nd - my * my
    val covxy = col("sxy").cast("double") / nd - mx * my
    val theta = covxy / varx
    val diffRaw = col("sya").cast("double") / col("na") -
      col("syb").cast("double") / col("nb")
    // mean_y_arm = mean_post_arm - theta*(mean_pre_arm - mean_pre_all);
    // the global p-bar terms cancel in the DIFFERENCE
    val diffCuped = diffRaw - theta *
      (col("sxa").cast("double") / col("na") -
        col("sxb").cast("double") / col("nb"))
    val varReduction = covxy * covxy / (varx * vary)
    // a constant pre-period (varx = 0) has no covariate to adjust by —
    // theta/adjusted outputs go NULL, not an ANSI divide-by-zero crash
    val ok = varx > 0 && vary > 0
    agg.select(col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        when(ok, floor(theta * 1e6 + 0.5) / 1e6).as("theta"),
        (floor(diffRaw * 1e4 + 0.5) / 1e4).as("diff_raw"),
        when(ok, floor(diffCuped * 1e4 + 0.5) / 1e4).as("diff_cuped"),
        when(ok, floor(varReduction * 1e6 + 0.5) / 1e6).as("var_reduction"))
  }

  /** Same per-user split sums, same pooled moments, same chain. */
  lazy val qCupedSql: String =
    s"""WITH ${medianDaySqlCtes("e", "events", "ts")},
      |pu AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN epoch_us(ts) // 86400000000 <= (SELECT md FROM emd)
      |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)::HUGEINT AS x,
      |    SUM(CASE WHEN epoch_us(ts) // 86400000000 <= (SELECT md FROM emd)
      |        THEN 0 ELSE CAST(round(value * 100) AS BIGINT) END)::HUGEINT AS y
      |  FROM events GROUP BY user_id),
      |armed AS (
      |  SELECT CASE WHEN substr(md5('graft:' || CAST(user_id AS VARCHAR)), 1, 4)
      |                < '8000' THEN 'a' ELSE 'b' END AS arm, x, y
      |  FROM pu),
      |agg AS (
      |  SELECT count(*) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx, SUM(y * y) AS syy,
      |    SUM(x * y) AS sxy,
      |    CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
      |    SUM(CASE WHEN arm = 'a' THEN x ELSE 0 END) AS sxa,
      |    SUM(CASE WHEN arm = 'a' THEN y ELSE 0 END) AS sya,
      |    SUM(CASE WHEN arm = 'b' THEN x ELSE 0 END) AS sxb,
      |    SUM(CASE WHEN arm = 'b' THEN y ELSE 0 END) AS syb
      |  FROM armed),
      |v AS (
      |  SELECT na, nb,
      |    CAST(sxx AS DOUBLE) / n
      |      - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS varx,
      |    CAST(syy AS DOUBLE) / n
      |      - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vary,
      |    CAST(sxy AS DOUBLE) / n
      |      - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS covxy,
      |    CAST(sya AS DOUBLE) / na - CAST(syb AS DOUBLE) / nb AS diff_raw,
      |    CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb AS diff_pre
      |  FROM agg),
      |f AS (
      |  SELECT na, nb, diff_raw, varx > 0 AND vary > 0 AS ok,
      |    covxy / varx AS theta,
      |    covxy * covxy / (varx * vary) AS var_reduction,
      |    diff_pre
      |  FROM v WHERE varx > 0 AND vary > 0
      |  UNION ALL
      |  SELECT na, nb, diff_raw, false, NULL, NULL, NULL
      |  FROM v WHERE NOT (varx > 0 AND vary > 0))
      |SELECT na AS n_a, nb AS n_b,
      |  CASE WHEN ok THEN FLOOR(theta * 1e6 + 0.5) / 1e6 END AS theta,
      |  FLOOR(diff_raw * 1e4 + 0.5) / 1e4 AS diff_raw,
      |  CASE WHEN ok
      |    THEN FLOOR((diff_raw - theta * diff_pre) * 1e4 + 0.5) / 1e4
      |  END AS diff_cuped,
      |  CASE WHEN ok THEN FLOOR(var_reduction * 1e6 + 0.5) / 1e6
      |  END AS var_reduction
      |FROM f""".stripMargin

  /**
   * Difference-in-differences (r8) — the quasi-experimental workhorse
   * when assignment isn't randomized per user-time (feature rollouts,
   * market launches): per (arm, period) cell means of the per-USER
   * post/pre cent sums, `DiD = (ā_post − ā_pre) − (b̄_post − b̄_pre)`,
   * with the SE from the per-arm variance of the PAIRED per-user
   * difference — pre (x) and post (y) are the same users within each
   * arm, so Var(ȳ−x̄) = (var_y + var_x − 2·cov_xy)/n per arm (r9: the
   * independent-cells form omitted the covariance term and was biased
   * whenever pre/post correlate). The parallel-trends estimate of the
   * treatment effect net of both the arm baseline and the period
   * trend. Same md5 split and median-day period rule as q_cuped; one
   * user-grain pass of exact decimal moments (incl. per-arm Σxy)
   * feeds the fixed double chain both engines replay.
   */
  def qDid(s: SparkSession, dir: String): DataFrame = {
    val md = medianEpochDay(Queries.eventsTable(s, dir), "ts",
      splitKey(s, dir, "events"))
    val perUser = Queries.eventsTable(s, dir)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("c"),
        (expr("unix_micros(ts) div 86400000000") <= md).as("pre"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("pre"), col("c")).otherwise(0L).cast("decimal(18,0)"))
          .as("x"),
        sum(when(col("pre"), 0L).otherwise(col("c")).cast("decimal(18,0)"))
          .as("y"))
      .select(armOf(col("user_id")).as("arm"), col("x"), col("y"))
    def cell(arm: String, v: String) = Seq(
      sum(when(col("arm") === arm, col(v)).otherwise(lit(0)
        .cast("decimal(18,0)"))).as(s"s_${arm}_$v"),
      sum(when(col("arm") === arm, col(v) * col(v)).otherwise(lit(0)
        .cast("decimal(38,0)"))).as(s"ss_${arm}_$v"))
    def cellXY(arm: String) =
      sum(when(col("arm") === arm, col("x") * col("y")).otherwise(lit(0)
        .cast("decimal(38,0)"))).as(s"sxy_$arm")
    val sums = Seq(
      sum(when(col("arm") === "a", 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === "b", 1L).otherwise(0L)).as("nb")) ++
      cell("a", "x") ++ cell("a", "y") ++ cell("b", "x") ++ cell("b", "y") ++
      Seq(cellXY("a"), cellXY("b"))
    val agg = perUser.agg(sums.head, sums.tail: _*)
    def mean(arm: String, v: String) =
      col(s"s_${arm}_$v").cast("double") / col(s"n$arm")
    // per-arm variance of the PAIRED difference ȳ−x̄ — x and y are the
    // same users, so the cross term matters; FP can push the exact
    // Var(y−x) ≥ 0 identity a hair negative → clamp before the sqrt
    def se2(arm: String) = {
      val n = col(s"n$arm")
      val mX = mean(arm, "x")
      val mY = mean(arm, "y")
      val vX = col(s"ss_${arm}_x").cast("double") / n - mX * mX
      val vY = col(s"ss_${arm}_y").cast("double") / n - mY * mY
      val cXY = col(s"sxy_$arm").cast("double") / n - mX * mY
      greatest(vY + vX - lit(2.0) * cXY, lit(0.0)) / n
    }
    val did = (mean("a", "y") - mean("a", "x")) -
      (mean("b", "y") - mean("b", "x"))
    val se = sqrt(se2("a") + se2("b"))
    agg.select(col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        (floor(mean("a", "x") * 1e4 + 0.5) / 1e4).as("a_pre"),
        (floor(mean("a", "y") * 1e4 + 0.5) / 1e4).as("a_post"),
        (floor(mean("b", "x") * 1e4 + 0.5) / 1e4).as("b_pre"),
        (floor(mean("b", "y") * 1e4 + 0.5) / 1e4).as("b_post"),
        (floor(did * 1e4 + 0.5) / 1e4).as("did"),
        (floor(se * 1e4 + 0.5) / 1e4).as("se"),
        // a degenerate all-identical cell has no sampling noise to
        // scale by — NULL z, not an ANSI double/0 crash
        when(se > 0, floor(did / se * 1e4 + 0.5) / 1e4).as("z"))
      .withColumn("significant",
        when(col("z").isNotNull, abs(col("z")) > 1.959964))
  }

  /** Same cells, same chain (means inlined per reference, matching the
    * Column DAG's shared subexpressions). */
  lazy val qDidSql: String =
    s"""WITH ${medianDaySqlCtes("e", "events", "ts")},
      |pu AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN epoch_us(ts) // 86400000000 <= (SELECT md FROM emd)
      |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)::HUGEINT AS x,
      |    SUM(CASE WHEN epoch_us(ts) // 86400000000 <= (SELECT md FROM emd)
      |        THEN 0 ELSE CAST(round(value * 100) AS BIGINT) END)::HUGEINT AS y
      |  FROM events GROUP BY user_id),
      |armed AS (
      |  SELECT CASE WHEN substr(md5('graft:' || CAST(user_id AS VARCHAR)), 1, 4)
      |                < '8000' THEN 'a' ELSE 'b' END AS arm, x, y
      |  FROM pu),
      |agg AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
      |    SUM(CASE WHEN arm = 'a' THEN x ELSE 0 END) AS s_a_x,
      |    SUM(CASE WHEN arm = 'a' THEN x * x ELSE 0 END) AS ss_a_x,
      |    SUM(CASE WHEN arm = 'a' THEN y ELSE 0 END) AS s_a_y,
      |    SUM(CASE WHEN arm = 'a' THEN y * y ELSE 0 END) AS ss_a_y,
      |    SUM(CASE WHEN arm = 'b' THEN x ELSE 0 END) AS s_b_x,
      |    SUM(CASE WHEN arm = 'b' THEN x * x ELSE 0 END) AS ss_b_x,
      |    SUM(CASE WHEN arm = 'b' THEN y ELSE 0 END) AS s_b_y,
      |    SUM(CASE WHEN arm = 'b' THEN y * y ELSE 0 END) AS ss_b_y,
      |    SUM(CASE WHEN arm = 'a' THEN x * y ELSE 0 END) AS sxy_a,
      |    SUM(CASE WHEN arm = 'b' THEN x * y ELSE 0 END) AS sxy_b
      |  FROM armed),
      |f AS (
      |  SELECT na, nb,
      |    CAST(s_a_x AS DOUBLE) / na AS max_, CAST(s_a_y AS DOUBLE) / na AS may,
      |    CAST(s_b_x AS DOUBLE) / nb AS mbx, CAST(s_b_y AS DOUBLE) / nb AS mby,
      |    (CAST(s_a_y AS DOUBLE) / na - CAST(s_a_x AS DOUBLE) / na)
      |      - (CAST(s_b_y AS DOUBLE) / nb - CAST(s_b_x AS DOUBLE) / nb) AS did,
      |    sqrt(
      |      GREATEST(
      |        (CAST(ss_a_y AS DOUBLE) / na
      |          - (CAST(s_a_y AS DOUBLE) / na) * (CAST(s_a_y AS DOUBLE) / na))
      |        + (CAST(ss_a_x AS DOUBLE) / na
      |          - (CAST(s_a_x AS DOUBLE) / na) * (CAST(s_a_x AS DOUBLE) / na))
      |        - 2.0 * (CAST(sxy_a AS DOUBLE) / na
      |          - (CAST(s_a_x AS DOUBLE) / na) * (CAST(s_a_y AS DOUBLE) / na)),
      |        0.0) / na
      |      + GREATEST(
      |        (CAST(ss_b_y AS DOUBLE) / nb
      |          - (CAST(s_b_y AS DOUBLE) / nb) * (CAST(s_b_y AS DOUBLE) / nb))
      |        + (CAST(ss_b_x AS DOUBLE) / nb
      |          - (CAST(s_b_x AS DOUBLE) / nb) * (CAST(s_b_x AS DOUBLE) / nb))
      |        - 2.0 * (CAST(sxy_b AS DOUBLE) / nb
      |          - (CAST(s_b_x AS DOUBLE) / nb) * (CAST(s_b_y AS DOUBLE) / nb)),
      |        0.0) / nb
      |    ) AS se
      |  FROM agg)
      |SELECT na AS n_a, nb AS n_b,
      |  FLOOR(max_ * 1e4 + 0.5) / 1e4 AS a_pre,
      |  FLOOR(may * 1e4 + 0.5) / 1e4 AS a_post,
      |  FLOOR(mbx * 1e4 + 0.5) / 1e4 AS b_pre,
      |  FLOOR(mby * 1e4 + 0.5) / 1e4 AS b_post,
      |  FLOOR(did * 1e4 + 0.5) / 1e4 AS did,
      |  FLOOR(se * 1e4 + 0.5) / 1e4 AS se,
      |  CASE WHEN se > 0 THEN FLOOR(did / se * 1e4 + 0.5) / 1e4 END AS z,
      |  CASE WHEN se > 0
      |    THEN abs(FLOOR(did / se * 1e4 + 0.5) / 1e4) > 1.959964
      |  END AS significant
      |FROM f""".stripMargin

  /**
   * Minimum detectable effect (r8) — the power calculation run BEFORE
   * an experiment, on this corpus's own variance: with the per-user
   * post-period metric's pooled σ² and the arm sizes the md5 split
   * yields, `MDE = (z_{α/2} + z_β)·σ·√(1/n_a + 1/n_b)` at α = 5 % /
   * power 80 % (1.959964 + 0.841621) — the absolute and relative
   * effect floor below which this experiment CANNOT see. One
   * user-grain pass of exact decimal moments → fixed double chain.
   */
  def qMde(s: SparkSession, dir: String): DataFrame = {
    val md = medianEpochDay(Queries.eventsTable(s, dir), "ts",
      splitKey(s, dir, "events"))
    val perUser = Queries.eventsTable(s, dir)
      .filter(expr("unix_micros(ts) div 86400000000") > md)
      .select(col("user_id"), round(col("value") * 100).cast("long").as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c").cast("decimal(18,0)")).as("y"))
      .select(armOf(col("user_id")).as("arm"), col("y"))
    val agg = perUser.agg(
      count(lit(1)).as("n"),
      sum(col("y")).as("sy"),
      sum(col("y") * col("y")).as("syy"),
      sum(when(col("arm") === "a", 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === "b", 1L).otherwise(0L)).as("nb"))
    val nd = col("n").cast("double")
    val m = col("sy").cast("double") / nd
    val sd = sqrt(col("syy").cast("double") / nd - m * m)
    // single literal — a Scala-folded 1.959964 + 0.841621 could sit one
    // ulp off DuckDB's parse of 2.801585 and flip a floor boundary
    val mde = lit(2.801585) * sd *
      sqrt(lit(1.0) / col("na") + lit(1.0) / col("nb"))
    agg.select(col("na").cast("long").as("n_a"),
      col("nb").cast("long").as("n_b"),
      (floor(m * 1e4 + 0.5) / 1e4).as("mean"),
      (floor(sd * 1e4 + 0.5) / 1e4).as("sd"),
      (floor(mde * 1e4 + 0.5) / 1e4).as("mde_abs"),
      when(m > 0, floor(mde / m * 1e6 + 0.5) / 1e6).as("mde_rel"))
  }

  /** Same pooled moments, same constant, same chain. */
  lazy val qMdeSql: String =
    s"""WITH ${medianDaySqlCtes("e", "events", "ts")},
      |pu AS (
      |  SELECT user_id,
      |    SUM(CAST(round(value * 100) AS BIGINT))::HUGEINT AS y
      |  FROM events
      |  WHERE epoch_us(ts) // 86400000000 > (SELECT md FROM emd)
      |  GROUP BY user_id),
      |armed AS (
      |  SELECT CASE WHEN substr(md5('graft:' || CAST(user_id AS VARCHAR)), 1, 4)
      |                < '8000' THEN 'a' ELSE 'b' END AS arm, y
      |  FROM pu),
      |agg AS (
      |  SELECT count(*) AS n, SUM(y) AS sy, SUM(y * y) AS syy,
      |    CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM armed),
      |f AS (
      |  SELECT na, nb,
      |    CAST(sy AS DOUBLE) / n AS m,
      |    sqrt(CAST(syy AS DOUBLE) / n
      |         - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)) AS sd,
      |    2.801585 * sqrt(CAST(syy AS DOUBLE) / n
      |         - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
      |      * sqrt(1.0 / na + 1.0 / nb) AS mde
      |  FROM agg)
      |SELECT na AS n_a, nb AS n_b,
      |  FLOOR(m * 1e4 + 0.5) / 1e4 AS mean,
      |  FLOOR(sd * 1e4 + 0.5) / 1e4 AS sd,
      |  FLOOR(mde * 1e4 + 0.5) / 1e4 AS mde_abs,
      |  CASE WHEN m > 0 THEN FLOOR(mde / m * 1e6 + 0.5) / 1e6 END AS mde_rel
      |FROM f""".stripMargin

  // -------------------------------------------------------------------------
  // Peak concurrency (interval stacking)
  // -------------------------------------------------------------------------

  /**
   * Peak concurrent sessions — the capacity-planning number ("how many
   * sessions were open AT ONCE, and when") computed by interval
   * stacking: sessionize (the [[graft.queries.Queries.qSessionize]]
   * gap rule at micros grain), emit +1 at each session start and −1
   * just after each end, and the running sum over time IS the
   * concurrency curve; its max is the peak. Ends sort before starts
   * at the same instant (order by (us, delta)), and the −1 lands at
   * end+1 µs, so back-to-back sessions don't double-count while
   * sessions genuinely touching at an instant do overlap.
   *
   * Scale: sessionization is user-partitioned windows (entity-keyed);
   * the boundary frame is 2 rows/session; the running sum is
   * range-partitioned [[graft.operators.PrefixSum]] — a global
   * ORDER BY time with NO single-task sort (the curve's whole point
   * is global order; PrefixSum is the only 100×-safe way to get it).
   * Output: one row (n_sessions, peak_concurrency, first_peak_us).
   */
  def qConcurrency(s: SparkSession, dir: String, gapMin: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMin * 60L * 1000000L
    val prevUs = lag(unix_micros(col("ts")), 1).over(w)
    val sess = Queries.eventsTable(s, dir)
      .withColumn("ns", when(
        prevUs.isNull || unix_micros(col("ts")) - prevUs > gapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("ns")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(unix_micros(col("ts"))).as("s_us"),
        max(unix_micros(col("ts"))).as("e_us"))
    // both deltas come from ONE pass over each session row (in-row
    // explode) instead of a union of two selects — the union form ran
    // the whole sessionize window+groupBy subtree once per branch (r13
    // plan audit; guide §1.2)
    val deltas = sess.select(explode(array(
        struct(col("s_us").as("us"), lit(1L).as("d")),
        struct((col("e_us") + 1L).as("us"), lit(-1L).as("d")))).as("e"))
      .select(col("e.us").as("us"), col("e.d").as("d"))
      .withColumn("k", lit(1))
    val cum = graft.operators.PrefixSum
      .runningSum(deltas, Seq("k"), Seq("us", "d"), "d", "conc")
    val stats = cum.agg(
      sum(when(col("d") === 1L, 1L).otherwise(0L)).as("n_sessions"),
      max(col("conc")).as("peak"))
    cum.crossJoin(broadcast(stats))
      .filter(col("conc") === col("peak"))
      .groupBy(col("n_sessions"), col("peak"))
      .agg(min(col("us")).as("first_peak_us"))
      .select(col("n_sessions"), col("peak").as("peak_concurrency"),
        col("first_peak_us"))
  }

  /** Same gap sessionization, same (us, delta) tie order, same
    * end+1 µs convention. */
  val qConcurrencySql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us FROM events),
      |g AS (
      |  SELECT user_id, us, event_id,
      |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |           IS NULL
      |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |           > 1800000000
      |      THEN 1 ELSE 0 END AS ns
      |  FROM e),
      |sids AS (
      |  SELECT user_id, us,
      |    SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM g),
      |sess AS (
      |  SELECT user_id, sid, min(us) AS s_us, max(us) AS e_us
      |  FROM sids GROUP BY user_id, sid),
      |deltas AS (
      |  SELECT s_us AS us, 1 AS d FROM sess
      |  UNION ALL SELECT e_us + 1, -1 FROM sess),
      |cum AS (
      |  SELECT us, d,
      |    SUM(d) OVER (ORDER BY us, d
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |  FROM deltas),
      |stats AS (
      |  SELECT CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_sessions, CAST(MAX(conc) AS BIGINT) AS peak FROM cum)
      |SELECT n_sessions, peak AS peak_concurrency,
      |  (SELECT min(us) FROM cum, stats WHERE conc = peak) AS first_peak_us
      |FROM stats""".stripMargin

  // -------------------------------------------------------------------------
  // Pearson correlation matrix (one-pass)
  // -------------------------------------------------------------------------

  /**
   * Pairwise Pearson correlations between the lineitem measures
   * (quantity, extendedprice, discount, tax) — the feature-engineering
   * and CBO-selectivity staple ("are these columns redundant / do they
   * co-move"). ONE partial-aggregated pass collects every Σx, Σx², Σxy
   * over cent-long micro-units as decimal(38,0) — exact at any row
   * order, headroom to ~10⁹ rows at cent scale (the emb_pca bound) —
   * then each of the 6 pairs is one deterministic double chain
   * `r = num/(√dx·√dy)` off the SAME 1-row frame. Spark's built-in
   * `corr()` aggregates in doubles and reassociates across partitions
   * — unusable under a hash gate; this form is bit-stable.
   *
   * Scale: one counts-only pass, a 1-row result frame, 6 output rows.
   */
  def qCorr(s: SparkSession, dir: String): DataFrame = {
    val vars = Seq(
      "quantity" -> col("l_quantity"), "extendedprice" -> col("l_extendedprice"),
      "discount" -> col("l_discount"), "tax" -> col("l_tax"))
    val m: Map[String, Column] = vars.toMap.map { case (n, c) =>
      // (18,0) per row keeps every product at (37,0) — exact, no clamp
      n -> round(c * 100).cast("long").cast("decimal(18,0)")
    }
    val sums =
      Seq(count(lit(1)).cast("decimal(38,0)").as("n")) ++
      m.toSeq.sortBy(_._1).map { case (n, c) => sum(c).as(s"s_$n") } ++
      m.toSeq.sortBy(_._1).map { case (n, c) => sum(c * c).as(s"ss_$n") } ++
      (for {
        (a, ca) <- m.toSeq.sortBy(_._1); (b, cb) <- m.toSeq.sortBy(_._1)
        if a < b
      } yield sum(ca * cb).as(s"sp_${a}_$b"))
    val agg = t(s, dir, "lineitem").agg(sums.head, sums.tail: _*)
    // ONE row exploded into the 6 pair rows — a union of 6 selects off
    // the agg frame would re-plan (and at scale re-SCAN) the corpus
    // aggregation once per pair
    val pairStructs = for {
      (a, _) <- vars; (b, _) <- vars if a < b
    } yield struct(
      lit(a).as("var_a"), lit(b).as("var_b"),
      col("n").cast("long").as("n"),
      (floor(
        (col(s"sp_${a}_$b") * col("n") - col(s"s_$a") * col(s"s_$b"))
          .cast("double") /
        (sqrt((col(s"ss_$a") * col("n") - col(s"s_$a") * col(s"s_$a"))
            .cast("double")) *
         sqrt((col(s"ss_$b") * col("n") - col(s"s_$b") * col(s"s_$b"))
            .cast("double"))) * 1e6 + 0.5) / 1e6).as("r"))
    agg.select(explode(array(pairStructs: _*)).as("p"))
      .select(col("p.var_a").as("var_a"), col("p.var_b").as("var_b"),
        col("p.n").as("n"), col("p.r").as("r"))
      .orderBy(col("var_a"), col("var_b"))
  }

  /** Identical micro-unit sums and double chain per pair. */
  val qCorrSql: String = {
    val vs = Seq("quantity", "extendedprice", "discount", "tax")
    val colOf = Map("quantity" -> "l_quantity", "extendedprice" -> "l_extendedprice",
      "discount" -> "l_discount", "tax" -> "l_tax")
    def mu(v: String) = s"CAST(CAST(round(${colOf(v)} * 100) AS BIGINT) AS HUGEINT)"
    val sumsSql =
      Seq("count(*)::HUGEINT AS n") ++
      vs.sorted.map(v => s"SUM(${mu(v)}) AS s_$v") ++
      vs.sorted.map(v => s"SUM(${mu(v)} * ${mu(v)}) AS ss_$v") ++
      (for { a <- vs.sorted; b <- vs.sorted if a < b }
        yield s"SUM(${mu(a)} * ${mu(b)}) AS sp_${a}_$b")
    val rows = (for { a <- vs; b <- vs if a < b } yield
      s"""SELECT '$a' AS var_a, '$b' AS var_b, CAST(n AS BIGINT) AS n,
         |  FLOOR(CAST(sp_${a}_$b * n - s_$a * s_$b AS DOUBLE)
         |        / (sqrt(CAST(ss_$a * n - s_$a * s_$a AS DOUBLE))
         |           * sqrt(CAST(ss_$b * n - s_$b * s_$b AS DOUBLE)))
         |        * 1e6 + 0.5) / 1e6 AS r
         |FROM s""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH s AS (SELECT ${sumsSql.mkString(",\n  ")} FROM lineitem)
       |SELECT * FROM (
       |$rows)
       |ORDER BY var_a, var_b""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Mutual information (categorical dependence)
  // -------------------------------------------------------------------------

  /**
   * Mutual information between two categorical columns (returnflag ×
   * linestatus) — the information-theoretic dependence audit
   * (text_cooccur's PMI is the per-pair view; this is the expectation
   * over the whole contingency table, the number behind "is this
   * feature informative / are these labels leaking"). Output: the
   * DENSE observed-margins contingency frame with per-cell
   * `(n_xy/n)·ln(n_xy·n/(n_x·n_y))` (a structurally-absent cell
   * contributes exactly 0 — the x·ln(x) → 0 limit); Σ mi_term is the
   * headline MI in nats.
   *
   * Scale: one counts-only partial-agg pass to the (x, y) grain
   * (|X|·|Y| rows), margins by two more tiny aggs off that frame,
   * dense cross of the OBSERVED margins — nothing row-grain after the
   * first pass.
   */
  def qMutualInfo(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("x"), col("l_linestatus").as("y"))
      .agg(count(lit(1)).as("n_xy"))
    val mx = cells.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
    val my = cells.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
    val tot = cells.agg(sum(col("n_xy")).as("n"))
    mx.crossJoin(broadcast(my)).join(cells, Seq("x", "y"), "left")
      .crossJoin(broadcast(tot))
      .select(col("x"), col("y"),
        coalesce(col("n_xy"), lit(0L)).as("n_xy"),
        when(coalesce(col("n_xy"), lit(0L)) > 0,
          floor((col("n_xy").cast("double") / col("n")) *
            // margins multiply in DOUBLE: a long n_x*n_y overflows ANSI
            // at ~7e9 rows while the ratio only needs double precision
            log(col("n_xy").cast("double") * col("n") /
              (col("n_x").cast("double") * col("n_y"))) * 1e6 + 0.5) / 1e6)
          .otherwise(lit(0.0)).as("mi_term"))
      .orderBy(col("x"), col("y"))
  }

  /** Same margins, same guarded term chain, same 6-dp floor. */
  val qMutualInfoSql: String =
    """WITH cells AS (
      |  SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS n_xy
      |  FROM lineitem GROUP BY 1, 2),
      |mx AS (SELECT x, SUM(n_xy) AS n_x FROM cells GROUP BY x),
      |my AS (SELECT y, SUM(n_xy) AS n_y FROM cells GROUP BY y),
      |tot AS (SELECT SUM(n_xy) AS n FROM cells)
      |SELECT mx.x, my.y, COALESCE(c.n_xy, 0) AS n_xy,
      |  CASE WHEN COALESCE(c.n_xy, 0) > 0 THEN
      |    FLOOR((CAST(c.n_xy AS DOUBLE) / n) *
      |          ln(CAST(c.n_xy AS DOUBLE) * n
      |             / (CAST(n_x AS DOUBLE) * n_y)) * 1e6 + 0.5) / 1e6
      |  ELSE 0.0 END AS mi_term
      |FROM mx CROSS JOIN my
      |LEFT JOIN cells c ON c.x = mx.x AND c.y = my.y
      |CROSS JOIN tot
      |ORDER BY mx.x, my.y""".stripMargin

  /** Same value-grain decile rule (integer `//`), same double chains. */
  val qLiftSql: String =
    """WITH r AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS resp
      |  FROM orders),
      |h AS (SELECT v, count(*) AS rows_, SUM(resp) AS resp FROM r GROUP BY v),
      |c AS (SELECT rows_, resp,
      |        SUM(rows_) OVER (ORDER BY -v) AS cumrows FROM h),
      |tot AS (SELECT SUM(rows_) AS n, SUM(resp) AS nr FROM h),
      |d AS (SELECT LEAST(10, 1 + (10 * (cumrows - rows_)) // n) AS decile,
      |        rows_, resp FROM c, tot),
      |g AS (SELECT decile, SUM(rows_) AS n_rows, SUM(resp) AS n_resp
      |      FROM d GROUP BY decile),
      |cum AS (SELECT decile, n_rows, n_resp,
      |        SUM(n_resp) OVER (ORDER BY decile) AS cum_resp FROM g)
      |SELECT CAST(decile AS BIGINT) AS decile,
      |  CAST(n_rows AS BIGINT) AS n_rows, CAST(n_resp AS BIGINT) AS n_resp,
      |  ROUND(CAST(n_resp AS DOUBLE) / n_rows, 4) AS response_rate,
      |  CASE WHEN nr > 0
      |    THEN ROUND(CAST(n_resp AS DOUBLE) * n
      |               / (CAST(n_rows AS DOUBLE) * nr), 4) END AS lift,
      |  CASE WHEN nr > 0
      |    THEN ROUND(CAST(cum_resp AS DOUBLE) / nr, 4) END AS cum_capture
      |FROM cum, tot
      |ORDER BY decile""".stripMargin

  // -------------------------------------------------------------------------
  // Winsorized / trimmed robust statistics
  // -------------------------------------------------------------------------

  /**
   * Winsorized + trimmed statistics (r9) — the robust-metric pass
   * every experimentation/monitoring pipeline runs when a metric has
   * whales (one crawler cart should not move the mean): order totals
   * clipped at the exact weighted p05/p95 value cuts (the
   * [[qWeightedPercentile]] crossing rule: smallest value whose
   * running count crosses p·n — both engines replay the same integer
   * crossing, no interpolation), then the winsorized mean/std and the
   * trimmed (cut-exclusive) mean over the clipped histogram.
   *
   * Scale: ONE value-grain counts pass + range-partitioned
   * [[graft.operators.PrefixSum]] for the cuts (window-free), the
   * 1-row cut frame broadcast back onto the histogram for one more
   * partial agg. All sums exact decimal; four final double ops.
   */
  def qWinsorize(s: SparkSession, dir: String, pLo: Int = 5,
      pHi: Int = 95): DataFrame = {
    val h = t(s, dir, "orders")
      .select(round(col("o_totalprice") * 100).cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
      .withColumn("k", lit(1))
    val cum = graft.operators.PrefixSum
      .runningSum(h, Seq("k"), Seq("v"), "n", "cum")
    val tot = cum.agg(max(col("cum")).as("tot"))
    val cuts = cum.crossJoin(broadcast(tot))
      .agg(min(when(col("cum") * 100 >= lit(pLo) * col("tot"), col("v")))
          .as("lo"),
        min(when(col("cum") * 100 >= lit(pHi) * col("tot"), col("v")))
          .as("hi"),
        first(col("tot")).as("tot"))
    val clipped = h.crossJoin(broadcast(cuts))
      .select(least(greatest(col("v"), col("lo")), col("hi")).as("w"),
        col("v"), col("n"), col("lo"), col("hi"), col("tot"))
    val agg = clipped.agg(
      first(col("tot")).as("n_rows"),
      first(col("lo")).as("lo_cents"), first(col("hi")).as("hi_cents"),
      sum(col("w").cast("decimal(38,0)") * col("n")).as("ws"),
      sum(col("w").cast("decimal(38,0)") * col("w") * col("n")).as("wss"),
      sum(when(col("v") >= col("lo") && col("v") <= col("hi"),
        col("v").cast("decimal(38,0)") * col("n")).otherwise(lit(0)
        .cast("decimal(38,0)"))).as("ts"),
      sum(when(col("v") >= col("lo") && col("v") <= col("hi"), col("n"))
        .otherwise(0L)).as("tn"))
    val nd = col("n_rows").cast("double")
    val wm = col("ws").cast("double") / nd
    val wvar = col("wss").cast("double") / nd - wm * wm
    agg.select(col("n_rows").cast("long").as("n_rows"),
      (col("lo_cents").cast("double") / 100.0).as("lo_cut"),
      (col("hi_cents").cast("double") / 100.0).as("hi_cut"),
      (floor(wm / 100.0 * 1e4 + 0.5) / 1e4).as("win_mean"),
      (floor(sqrt(greatest(wvar, lit(0.0))) / 100.0 * 1e4 + 0.5) / 1e4)
        .as("win_std"),
      when(col("tn") > 0, floor(col("ts").cast("double") / col("tn")
        / 100.0 * 1e4 + 0.5) / 1e4).as("trimmed_mean"),
      col("tn").cast("long").as("n_kept"))
  }

  /** Same crossing cuts, same clipped decimal moments, same final
    * double ops (window cum is the oracle's privilege). */
  val qWinsorizeSql: String =
    """WITH h AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, count(*) AS n
      |  FROM orders GROUP BY v),
      |c AS (SELECT v, n, SUM(n) OVER (ORDER BY v) AS cum,
      |             SUM(n) OVER () AS tot FROM h),
      |cuts AS (
      |  SELECT MIN(CASE WHEN cum * 100 >= 5 * tot THEN v END) AS lo,
      |    MIN(CASE WHEN cum * 100 >= 95 * tot THEN v END) AS hi,
      |    MAX(tot) AS tot
      |  FROM c),
      |cl AS (
      |  SELECT LEAST(GREATEST(v, lo), hi) AS w, v, n, lo, hi, tot
      |  FROM h, cuts),
      |agg AS (
      |  SELECT MAX(tot) AS n_rows, MAX(lo) AS lo_cents, MAX(hi) AS hi_cents,
      |    SUM(CAST(w AS HUGEINT) * n) AS ws,
      |    SUM(CAST(w AS HUGEINT) * w * n) AS wss,
      |    SUM(CASE WHEN v >= lo AND v <= hi
      |        THEN CAST(v AS HUGEINT) * n ELSE 0 END) AS ts,
      |    CAST(SUM(CASE WHEN v >= lo AND v <= hi THEN n ELSE 0 END) AS BIGINT)
      |      AS tn
      |  FROM cl)
      |SELECT CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(lo_cents AS DOUBLE) / 100.0 AS lo_cut,
      |  CAST(hi_cents AS DOUBLE) / 100.0 AS hi_cut,
      |  FLOOR(CAST(ws AS DOUBLE) / n_rows / 100.0 * 1e4 + 0.5) / 1e4 AS win_mean,
      |  FLOOR(sqrt(GREATEST(
      |      CAST(wss AS DOUBLE) / n_rows
      |      - (CAST(ws AS DOUBLE) / n_rows) * (CAST(ws AS DOUBLE) / n_rows),
      |      0.0)) / 100.0 * 1e4 + 0.5) / 1e4 AS win_std,
      |  CASE WHEN tn > 0 THEN
      |    FLOOR(CAST(ts AS DOUBLE) / tn / 100.0 * 1e4 + 0.5) / 1e4
      |  END AS trimmed_mean,
      |  tn AS n_kept
      |FROM agg""".stripMargin

  // -------------------------------------------------------------------------
  // Engagement: DAU/MAU stickiness + power-user concentration
  // -------------------------------------------------------------------------

  /**
   * DAU/MAU stickiness (r9) — the engagement ratio every consumer
   * product reports: per calendar month, the mean daily-active count
   * over the month's ACTIVE days divided by the monthly-active count.
   * A corpus where everyone shows up daily scores 1; drive-by traffic
   * scores near 1/30. Exact distinct-user counts at the (month, day)
   * and month grains (two partial-agg passes over (user, day) — the
   * only shuffles carry id-grain count rows), one double division
   * chain per month.
   */
  def qStickiness(s: SparkSession, dir: String): DataFrame = {
    val ud = Queries.eventsTable(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("d"),
        date_format(col("ts"), "yyyy-MM").as("month"))
      .distinct()
    val dau = ud.groupBy(col("month"), col("d"))
      .agg(countDistinct(col("user_id")).as("dau"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_sum"))
    val mau = ud.groupBy(col("month"))
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau, "month")
      .select(col("month"), col("n_days"), col("mau"),
        (floor(col("dau_sum").cast("double") / col("n_days") * 1e4 + 0.5)
          / 1e4).as("avg_dau"),
        (floor(col("dau_sum").cast("double") / col("n_days") / col("mau")
          * 1e6 + 0.5) / 1e6).as("stickiness"))
      .orderBy(col("month"))
  }

  /** Same (user, day, month) distinct grain, same two counts, same
    * chain. */
  val qStickinessSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d,
      |    strftime(ts, '%Y-%m') AS month
      |  FROM events),
      |dau AS (
      |  SELECT month, count(*) AS n_days, SUM(dau) AS dau_sum FROM (
      |    SELECT month, d, count(DISTINCT user_id) AS dau
      |    FROM ud GROUP BY month, d) t
      |  GROUP BY month),
      |mau AS (
      |  SELECT month, count(DISTINCT user_id) AS mau FROM ud GROUP BY month)
      |SELECT dau.month, CAST(n_days AS BIGINT) AS n_days,
      |  CAST(mau AS BIGINT) AS mau,
      |  FLOOR(CAST(dau_sum AS DOUBLE) / n_days * 1e4 + 0.5) / 1e4 AS avg_dau,
      |  FLOOR(CAST(dau_sum AS DOUBLE) / n_days / mau * 1e6 + 0.5) / 1e6
      |    AS stickiness
      |FROM dau JOIN mau USING (month)
      |ORDER BY month""".stripMargin

  /**
   * Power-user concentration (r9) — "what share of all events come
   * from the top p % of users" at p ∈ {1, 10}: the whale audit that
   * decides rate limits, bot hunts, and whether engagement metrics
   * are one crawler in a trench coat. Exact at any scale: users
   * collapse to an events-per-user COUNT HISTOGRAM (value grain —
   * at 100 TB this is thousands of distinct activity levels, not
   * users), a range-partitioned [[graft.operators.PrefixSum]] runs
   * user-counts cumulatively from the MOST active value down
   * (ascending on the negated count), and the top-k cut (k =
   * ⌈p%·n_users⌉, exact integer ceil) resolves INSIDE the histogram:
   * whole values above the crossing plus the exact partial slice at
   * the crossing value (`r·c` events for the r remaining slots) —
   * deterministic under ties, no per-user sort anywhere.
   */
  def qPowerUsers(s: SparkSession, dir: String,
      pcts: Seq[Int] = Seq(1, 10)): DataFrame = {
    val perUser = Queries.eventsTable(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val hist = perUser.groupBy(col("c")).agg(count(lit(1)).as("nu"))
      .withColumn("k", lit(1))
      .withColumn("negc", -col("c"))
    val cum = graft.operators.PrefixSum
      .runningSum(hist, Seq("k"), Seq("negc"), "nu", "cum_users")
    val tot = cum.agg(sum(col("nu")).as("n_users"),
      sum(col("c").cast("decimal(38,0)") * col("nu")).as("n_events"))
    val ps = s.range(1).select(explode(
      array(pcts.map(lit): _*)).as("p"))
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(ps))
      // k = ceil(p% of users) in exact integer arithmetic (`div`, not
      // `/` — Spark's slash on integers is DOUBLE division)
      .withColumn("kk", expr("(p * n_users + 99) div 100"))
      .withColumn("in_full", col("cum_users") <= col("kk"))
      .groupBy(col("p"), col("n_users"), col("n_events"), col("kk"))
      .agg(
        coalesce(sum(when(col("in_full"),
          col("c").cast("decimal(38,0)") * col("nu"))), lit(0)
          .cast("decimal(38,0)")).as("full_events"),
        coalesce(max(when(col("in_full"), col("cum_users"))), lit(0L))
          .as("covered"),
        // the crossing value: the largest count NOT fully included
        max(when(!col("in_full"), col("c"))).as("cut_c"))
      .select(col("p").cast("int").as("top_pct"),
        col("n_users").cast("long").as("n_users"),
        col("kk").cast("long").as("k_users"),
        (floor((col("full_events") +
          coalesce((col("kk") - col("covered")) *
            coalesce(col("cut_c"), lit(0L)), lit(0L)).cast("decimal(38,0)"))
          .cast("double") / col("n_events").cast("double") * 1e6 + 0.5)
          / 1e6).as("event_share"))
      .orderBy(col("top_pct"))
  }

  /** Same histogram, same descending cumulative, same exact top-k
    * resolution with the partial slice at the crossing value. */
  val qPowerUsersSql: String =
    """WITH pu AS (
      |  SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
      |h AS (SELECT c, count(*) AS nu FROM pu GROUP BY c),
      |cu AS (SELECT c, nu, SUM(nu) OVER (ORDER BY -c) AS cum_users FROM h),
      |tot AS (SELECT CAST(SUM(nu) AS BIGINT) AS n_users,
      |               SUM(c::HUGEINT * nu) AS n_events FROM h),
      |ps AS (SELECT unnest([1, 10]) AS p),
      |j AS (
      |  SELECT p, n_users, n_events,
      |    (p * n_users + 99) // 100 AS kk,
      |    cum_users <= (p * n_users + 99) // 100 AS in_full,
      |    c, nu, cum_users
      |  FROM cu, tot, ps)
      |SELECT CAST(p AS INT) AS top_pct, n_users,
      |  CAST(kk AS BIGINT) AS k_users,
      |  FLOOR(CAST(
      |      COALESCE(SUM(CASE WHEN in_full THEN c::HUGEINT * nu END), 0)
      |      + COALESCE((kk - COALESCE(MAX(CASE WHEN in_full
      |            THEN cum_users END), 0))
      |          * COALESCE(MAX(CASE WHEN NOT in_full THEN c END), 0), 0)
      |    AS DOUBLE) / CAST(n_events AS DOUBLE) * 1e6 + 0.5) / 1e6
      |    AS event_share
      |FROM j
      |GROUP BY p, n_users, n_events, kk
      |ORDER BY top_pct""".stripMargin

  // -------------------------------------------------------------------------
  // Kaplan–Meier survival / retention curve
  // -------------------------------------------------------------------------

  /**
   * Kaplan–Meier survival estimator (r9) — the censoring-correct
   * retention curve (q_retention counts raw comebacks; KM answers
   * "what fraction of users SURVIVE past t days" without biasing
   * against users we simply haven't observed long enough): per user,
   * lifetime = last − first active epoch day; a user whose last
   * activity predates the corpus's final active day has churned
   * (event observed), one still active on the final day is CENSORED.
   * At each distinct lifetime t (ascending): n_risk = users with
   * lifetime ≥ t, d = churns at t, and
   * `S(t) = S(t⁻)·(1 − d/n_risk)` — the product-limit estimator
   * (Kaplan & Meier 1958).
   *
   * Scale/exactness: the user-grain first/last agg is distributed;
   * the lifetime grain is CALENDAR-bounded (≤ one row per day of
   * corpus span), so the sequential product runs as the q_ewma
   * driver recurrence over a bounded collect — and the oracle
   * replays the IDENTICAL double chain in a recursive CTE (IEEE
   * mul/div are correctly rounded on both engines, so the recurrence
   * is bit-identical; only libm functions are banned from recurrence
   * chains). A loud cap guards the pathological span.
   */
  def qSurvival(s: SparkSession, dir: String, maxLifetimes: Int = 200000): DataFrame = {
    val spark = s
    import spark.implicits._
    val days = Queries.eventsTable(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy(col("user_id"))
      .agg(min(col("d")).as("fd"), max(col("d")).as("ld"))
    val maxRow = days.agg(max(col("ld"))).head()
    require(!maxRow.isNullAt(0), "q_survival: events table is empty")
    val maxd = maxRow.getLong(0)
    val tg = days
      .select((col("ld") - col("fd")).as("t"), (col("ld") < maxd).as("death"))
      .groupBy(col("t"))
      .agg(sum(when(col("death"), 1L).otherwise(0L)).as("d"),
        sum(when(col("death"), 0L).otherwise(1L)).as("c"))
      .orderBy(col("t"))
      .collect() // calendar-bounded: ≤ one row per day of corpus span
    require(tg.length <= maxLifetimes,
      s"q_survival: ${tg.length} distinct lifetimes exceeds the " +
        s"$maxLifetimes cap — is the day derivation broken?")
    val total = tg.map(r => r.getLong(1) + r.getLong(2)).sum
    var before = 0L
    var surv = 1.0
    val rows = tg.map { r =>
      val (t, d, c) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val nRisk = total - before
      surv = surv * (1.0 - d.toDouble / nRisk)
      before += d + c
      (t, nRisk, d, c, math.floor(surv * 1e6 + 0.5) / 1e6)
    }.toSeq
    rows.toDF("t_days", "n_risk", "n_deaths", "n_censored", "survival")
      .orderBy(col("t_days"))
  }

  /** Same lifetime/censoring rules; the product-limit recurrence
    * replayed as a recursive CTE over the ordered lifetime grain —
    * the same `s · (1 − d/n)` double chain, row for row. */
  val qSurvivalSql: String =
    """WITH RECURSIVE dd AS (
      |  SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS fd,
      |         MAX(epoch_us(ts) // 86400000000) AS ld
      |  FROM events GROUP BY user_id),
      |mx AS (SELECT MAX(ld) AS maxd FROM dd),
      |lt AS (SELECT ld - fd AS t, ld < (SELECT maxd FROM mx) AS death FROM dd),
      |tg AS (SELECT t, SUM(CASE WHEN death THEN 1 ELSE 0 END) AS d,
      |              SUM(CASE WHEN death THEN 0 ELSE 1 END) AS c
      |       FROM lt GROUP BY t),
      |seq AS (SELECT t, d, c,
      |    CAST((SELECT SUM(d + c) FROM tg) AS BIGINT)
      |      - CAST(COALESCE(SUM(d + c) OVER (ORDER BY t
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS n_risk,
      |    ROW_NUMBER() OVER (ORDER BY t) AS rn
      |  FROM tg),
      |rec AS (
      |  SELECT rn, t, d, c, n_risk,
      |    1.0 * (1 - CAST(d AS DOUBLE) / n_risk) AS s
      |  FROM seq WHERE rn = 1
      |  UNION ALL
      |  SELECT seq.rn, seq.t, seq.d, seq.c, seq.n_risk,
      |    rec.s * (1 - CAST(seq.d AS DOUBLE) / seq.n_risk)
      |  FROM rec JOIN seq ON seq.rn = rec.rn + 1)
      |SELECT t AS t_days, n_risk, CAST(d AS BIGINT) AS n_deaths,
      |  CAST(c AS BIGINT) AS n_censored,
      |  FLOOR(s * 1e6 + 0.5) / 1e6 AS survival
      |FROM rec ORDER BY t_days""".stripMargin

  // -------------------------------------------------------------------------
  // Lagged cross-correlation between two event series
  // -------------------------------------------------------------------------

  /**
   * Lagged cross-correlation (r10): does today's click volume predict
   * purchase volume ℓ days out? Pearson r between the daily click-count
   * series x and the purchase-count series y shifted by lag ℓ ∈ 0..7,
   * over the DENSE calendar (missing days count 0, so a sparse
   * weekend can't silently shrink the overlap). All five moments (Σx,
   * Σy, Σxy, Σx², Σy², n) are EXACT integers; r's numerator
   * n·Σxy − Σx·Σy and both variance factors are
   * exact decimals converted to double once, so the one div + sqrt chain
   * is deterministic IEEE. Scale: the daily frame is |days| rows; the
   * lag explode multiplies it by 8 — nothing fact-sized shuffles twice.
   */
  def qCrossCorr(s: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    val ev = Queries.eventsTable(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"),
        col("event_type"))
    val byDay = ev.groupBy(col("d"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val mm = byDay.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val dense = mm.select(explode(sequence(col("lo"), col("hi"))).as("d"))
      .join(byDay, Seq("d"), "left")
      .select(col("d"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    val lagged = dense.select(col("d"), col("x"),
        explode(sequence(lit(0), lit(maxLag))).as("lag"))
      .join(dense.select(col("d").as("dy"), col("y")),
        col("dy") === col("d") + col("lag"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val agg = lagged.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
    val num = (dec(col("n")) * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val vx = (dec(col("n")) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val vy = (dec(col("n")) * col("syy") - col("sy") * col("sy"))
      .cast("double")
    agg.select(col("lag").cast("long").as("lag"),
        col("n").as("n_pairs"),
        col("sx").cast("long").as("sum_x"),
        col("sy").cast("long").as("sum_y"),
        when(vx > 0 && vy > 0,
          floor(num / sqrt(vx * vy) * 1e6 + 0.5) / 1e6).as("xcorr"))
      .orderBy(col("lag"))
  }

  /** Same dense calendar, same exact moments, same double chain. */
  val qCrossCorrSql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 86400000000 AS d, event_type FROM events),
      |byday AS (
      |  SELECT d,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |  FROM ev GROUP BY 1),
      |mm AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM byday),
      |dense AS (
      |  SELECT g.d, COALESCE(b.x, 0) AS x, COALESCE(b.y, 0) AS y
      |  FROM (SELECT unnest(generate_series((SELECT lo FROM mm),
      |                                      (SELECT hi FROM mm))) AS d) g
      |  LEFT JOIN byday b USING (d)),
      |lagged AS (
      |  SELECT l.lag, dx.x, dy.y
      |  FROM (SELECT unnest(generate_series(0, 7)) AS lag) l
      |  JOIN dense dx ON true
      |  JOIN dense dy ON dy.d = dx.d + l.lag),
      |agg AS (
      |  SELECT lag, count(*) AS n,
      |    SUM(x::HUGEINT) AS sx, SUM(y::HUGEINT) AS sy,
      |    SUM(x::HUGEINT * y) AS sxy,
      |    SUM(x::HUGEINT * x) AS sxx, SUM(y::HUGEINT * y) AS syy
      |  FROM lagged GROUP BY 1)
      |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
      |  CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
      |  CASE WHEN CAST(n::HUGEINT * sxx - sx * sx AS DOUBLE) > 0
      |        AND CAST(n::HUGEINT * syy - sy * sy AS DOUBLE) > 0 THEN
      |    FLOOR(CAST(n::HUGEINT * sxy - sx * sy AS DOUBLE)
      |          / sqrt(CAST(n::HUGEINT * sxx - sx * sx AS DOUBLE)
      |                 * CAST(n::HUGEINT * syy - sy * sy AS DOUBLE))
      |          * 1e6 + 0.5) / 1e6 END AS xcorr
      |FROM agg
      |ORDER BY lag""".stripMargin

  // -------------------------------------------------------------------------
  // Kendall rank correlation between the daily click and purchase series
  // -------------------------------------------------------------------------

  /**
   * Kendall τ-b (r11) — [[qCrossCorr]]'s RANK sibling: does click
   * volume and purchase volume move together MONOTONICALLY, free of
   * the linearity assumption Pearson bakes in (one viral day with 50×
   * clicks dominates a Pearson r; it is one rank here). Over the dense
   * daily calendar (missing days count 0): every day pair
   * classifies as concordant / discordant / tied-in-x / tied-in-y /
   * tied-in-both — ALL exact integer counts — and
   * τb = (C − D) / √((n₀−n₁)(n₀−n₂)) runs one deterministic double
   * chain at the end, floored to micro-units.
   *
   * Scale: pairs form at DAY grain — n days is calendar-bounded
   * (3 650 for a decade → ~6.7 M pairs, constant in data volume), so
   * the pair join never touches fact-sized rows. The only fact-scale
   * work is the partial-agg'd per-day counts.
   */
  def qKendall(s: SparkSession, dir: String): DataFrame = {
    val ev = Queries.eventsTable(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("d"),
        col("event_type"))
    val byDay = ev.groupBy(col("d"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val mm = byDay.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val dense = mm.select(explode(sequence(col("lo"), col("hi"))).as("d"))
      .join(byDay, Seq("d"), "left")
      .select(col("d"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    val pairs = dense.select(col("d").as("d1"), col("x").as("x1"),
        col("y").as("y1"))
      .join(dense.select(col("d").as("d2"), col("x").as("x2"),
        col("y").as("y2")), col("d2") > col("d1"))
    val dx = col("x2") - col("x1")
    val dy = col("y2") - col("y1")
    // sign comparisons, never the dx·dy product (two 10⁹-count days
    // would overflow a long product; signs cannot)
    val agg = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(when((dx > 0 && dy > 0) || (dx < 0 && dy < 0), 1L)
        .otherwise(0L)).as("conc"),
      sum(when((dx > 0 && dy < 0) || (dx < 0 && dy > 0), 1L)
        .otherwise(0L)).as("disc"),
      sum(when(dx === 0, 1L).otherwise(0L)).as("tie_x"),
      sum(when(dy === 0, 1L).otherwise(0L)).as("tie_y"))
    val n0 = col("n_pairs").cast("double")
    val den = sqrt((n0 - col("tie_x")) * (n0 - col("tie_y")))
    agg.crossJoin(broadcast(dense.agg(count(lit(1)).as("n_days"))))
      .select(col("n_days"), col("n_pairs"), col("conc"), col("disc"),
        col("tie_x"), col("tie_y"),
        when(den > 0, floor((col("conc") - col("disc")).cast("double")
          / den * 1e6 + 0.5) / 1e6).as("tau_b"))
  }

  /** Same dense calendar, same exact pair classes, same double chain. */
  val qKendallSql: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 86400000000 AS d, event_type FROM events),
      |byday AS (
      |  SELECT d,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |  FROM ev GROUP BY 1),
      |mm AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM byday),
      |dense AS (
      |  SELECT g.d, COALESCE(b.x, 0) AS x, COALESCE(b.y, 0) AS y
      |  FROM (SELECT unnest(generate_series((SELECT lo FROM mm),
      |                                      (SELECT hi FROM mm))) AS d) g
      |  LEFT JOIN byday b USING (d)),
      |pairs AS (
      |  SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
      |  FROM dense a JOIN dense b ON b.d > a.d),
      |agg AS (
      |  -- sign comparisons, matching the engine: a (x2-x1)*(y2-y1)
      |  -- product would RAISE on BIGINT overflow in DuckDB at extreme
      |  -- per-day counts where the Spark side stays exact (r11 ADVICE)
      |  SELECT count(*) AS n_pairs,
      |    SUM(CASE WHEN (x2 > x1 AND y2 > y1) OR (x2 < x1 AND y2 < y1)
      |             THEN 1 ELSE 0 END) AS conc,
      |    SUM(CASE WHEN (x2 > x1 AND y2 < y1) OR (x2 < x1 AND y2 > y1)
      |             THEN 1 ELSE 0 END) AS disc,
      |    SUM(CASE WHEN x2 = x1 THEN 1 ELSE 0 END) AS tie_x,
      |    SUM(CASE WHEN y2 = y1 THEN 1 ELSE 0 END) AS tie_y
      |  FROM pairs)
      |SELECT (SELECT count(*) FROM dense) AS n_days,
      |  CAST(n_pairs AS BIGINT) AS n_pairs,
      |  CAST(conc AS BIGINT) AS conc, CAST(disc AS BIGINT) AS disc,
      |  CAST(tie_x AS BIGINT) AS tie_x, CAST(tie_y AS BIGINT) AS tie_y,
      |  CASE WHEN (CAST(n_pairs AS DOUBLE) - tie_x) > 0
      |        AND (CAST(n_pairs AS DOUBLE) - tie_y) > 0 THEN
      |    FLOOR(CAST(conc - disc AS DOUBLE)
      |          / sqrt((CAST(n_pairs AS DOUBLE) - tie_x)
      |                 * (CAST(n_pairs AS DOUBLE) - tie_y)) * 1e6 + 0.5)
      |      / 1e6 END AS tau_b
      |FROM agg""".stripMargin
}
