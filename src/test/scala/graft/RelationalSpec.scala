package graft

import graft.queries.RelationalQueries

/** Extended relational operators at sf0.001 (oracle covers sf0.01). */
class RelationalSpec extends SparkSpec {

  test("as-of join: every picked event is at or before its order date; orders without history survive") {
    val rows = RelationalQueries.qAsof(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter("o_orderkey % 100 = 0").count()
    assert(rows.length == orders, "left join must keep every order")
    rows.filter(!_.isNullAt(2)).foreach { r =>
      val asof = java.sql.Timestamp.valueOf(r.getString(2))
      val od = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(s"o_orderkey = ${r.getLong(0)}")
        .head().getAs[java.sql.Timestamp]("o_orderdate")
      assert(!asof.after(od), s"event $asof after order date $od")
    }
  }

  test("AsofJoin produces exactly the join+window formulation's result") {
    val a = RelationalQueries.qAsof(spark, sfDir).collect().map(_.toString).toSeq
    val b = RelationalQueries.qAsofFast(spark, sfDir).collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("AsofJoin.joinCogroup agrees with AsofJoin.join on real data") {
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 100 === 0)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    // use the same prepared events frame as the queries (schema-adaptive
    // across testdata generations, mirroring Queries.eventsTable)
    val events = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      val normed = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case _ =>
          raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      }
      normed.select("user_id", "ts", "event_type")
    }
    val a = graft.operators.AsofJoin.join(ord, events,
        "o_custkey", "user_id", "o_orderdate", "ts")
      .orderBy("o_orderkey").collect().map(_.toString).toSeq
    val b = graft.operators.AsofJoin.joinCogroup(ord, events,
        "o_custkey", "user_id", "o_orderdate", "ts")
      .orderBy("o_orderkey").collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("AsofJoin on constructed data: exact boundary, no-match, and tie cases") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2026-01-01 10:00:00")),  // exact boundary match
      (1L, ts("2026-01-01 09:00:00")),  // before any event -> null
      (2L, ts("2026-01-01 12:00:00"))   // tie at 11:00 -> min repr wins
    ).toDF("k", "t")
    val right = Seq(
      (1L, ts("2026-01-01 10:00:00"), "boundary"),
      (1L, ts("2026-01-01 11:00:00"), "later"),
      (2L, ts("2026-01-01 11:00:00"), "b_tie"),
      (2L, ts("2026-01-01 11:00:00"), "a_tie")
    ).toDF("k", "t", "tag")
    val got = graft.operators.AsofJoin.join(left, right, "k", "k", "t", "t")
      .orderBy("k", "t").collect()
    assert(got(0).isNullAt(2) && got(0).isNullAt(3))        // 09:00 -> none
    assert(got(1).getAs[String]("tag") == "boundary")       // ts == t included
    assert(got(2).getAs[String]("tag") == "a_tie")          // deterministic tie
  }

  test("AsofJoin: join and joinCogroup agree on ties with unequal-length payloads") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, ts("2026-01-01 12:00:00"))).toDF("k", "t")
    // "p1" < "p10" as a string tuple, but "[...,p10]" < "[...,p1]" as a
    // whole-row string — the old cogroup tie rule diverged here
    val right = Seq(
      (1L, ts("2026-01-01 11:00:00"), "p10"),
      (1L, ts("2026-01-01 11:00:00"), "p1")
    ).toDF("k", "t", "tag")
    val a = graft.operators.AsofJoin.join(left, right, "k", "k", "t", "t")
      .collect().map(_.toString).toSeq
    val b = graft.operators.AsofJoin.joinCogroup(left, right, "k", "k", "t", "t")
      .collect().map(_.toString).toSeq
    assert(a == b)
    assert(a.head.contains("p1]"), s"tie must pick the smallest payload: $a")
  }

  test("AsofJoin rejects reserved internal column names with a clear error") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, ts("2026-01-01 12:00:00"), 5)).toDF("k", "t", "__m")
    val right = Seq((1L, ts("2026-01-01 11:00:00"), "x")).toDF("k", "t", "tag")
    val e = intercept[IllegalArgumentException] {
      graft.operators.AsofJoin.join(left, right, "k", "k", "t", "t")
    }
    assert(e.getMessage.contains("__m"))
  }

  test("AsofJoin: null keys/timestamps survive with null right side; micro-precision respected") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val tEarly = ts("2026-01-01 10:00:00"); tEarly.setNanos(200000)   // .000200
    val tLate = ts("2026-01-01 10:00:00"); tLate.setNanos(500000)     // .000500
    val left = Seq((Some(1L), Some(tEarly)), (None, Some(tEarly)), (Some(1L), None))
      .toDF("k", "t")
    val right = Seq((1L, tLate, "later_by_micros")).toDF("k", "t", "tag")
    val got = graft.operators.AsofJoin.join(left, right, "k", "k", "t", "t").collect()
    assert(got.length == 3, "all left rows must survive")
    // the .000500 event is AFTER .000200 — must not match
    assert(got.forall(_.isNullAt(3)))
  }

  test("AsofJoin direction=forward picks the next event; tolerance nulls far matches") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2026-01-01 10:00:00")), // next event 10:05 (within 1h tol)
      (2L, ts("2026-01-01 10:00:00")), // next event 13:00 (beyond tol → null)
      (3L, ts("2026-01-01 10:00:00"))  // no later event → null
    ).toDF("k", "t")
    val right = Seq(
      (1L, ts("2026-01-01 09:55:00"), "before"),
      (1L, ts("2026-01-01 10:05:00"), "next"),
      (1L, ts("2026-01-01 11:00:00"), "later"),
      (2L, ts("2026-01-01 13:00:00"), "far"),
      (3L, ts("2026-01-01 09:00:00"), "past")
    ).toDF("k", "t", "tag")
    val got = graft.operators.AsofJoin.join(left, right, "k", "k", "t", "t",
        direction = "forward", toleranceUs = Some(3600L * 1000000L))
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(got == Map(1L -> Some("next"), 2L -> None, 3L -> None))
    // backward + tolerance on the same data: 1 → "before"; 3's only
    // event is 1 h back, exactly AT the tolerance boundary → included
    val back = graft.operators.AsofJoin.join(left, right, "k", "k", "t", "t",
        toleranceUs = Some(3600L * 1000000L))
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(back == Map(1L -> Some("before"), 2L -> None, 3L -> Some("past")))
  }

  test("AsofJoin direction=nearest picks min |Δt|, ties prefer backward, tolerance bounds both sides") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2026-01-01 10:00:00")), // back 9:58 (2m) vs fwd 10:05 (5m) → back
      (2L, ts("2026-01-01 10:00:00")), // back 9:50 (10m) vs fwd 10:03 (3m) → fwd
      (3L, ts("2026-01-01 10:00:00")), // equidistant ±4m → backward wins
      (4L, ts("2026-01-01 10:00:00")), // only a far event (2h) → tolerance nulls it
      (5L, ts("2026-01-01 10:00:00"))  // no events at all → null
    ).toDF("k", "t")
    val right = Seq(
      (1L, ts("2026-01-01 09:58:00"), "b1"), (1L, ts("2026-01-01 10:05:00"), "f1"),
      (2L, ts("2026-01-01 09:50:00"), "b2"), (2L, ts("2026-01-01 10:03:00"), "f2"),
      (3L, ts("2026-01-01 09:56:00"), "b3"), (3L, ts("2026-01-01 10:04:00"), "f3"),
      (4L, ts("2026-01-01 12:00:00"), "far")
    ).toDF("k", "t", "tag")
    val got = graft.operators.AsofJoin.join(left, right, "k", "k", "t", "t",
        direction = "nearest", toleranceUs = Some(3600L * 1000000L))
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(got == Map(1L -> Some("b1"), 2L -> Some("f2"), 3L -> Some("b3"),
      4L -> None, 5L -> None), got.toString)
    // one side out of tolerance must not block the other: a 10-minute
    // tolerance keeps 2's forward match but drops 1's nothing (both in)
    val tight = graft.operators.AsofJoin.join(left, right, "k", "k", "t", "t",
        direction = "nearest", toleranceUs = Some(600L * 1000000L))
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(tight(2L) == Some("f2") && tight(1L) == Some("b1"))
    // a null-ts left row must get null right columns under nearest too
    // (regression: the desc window once handed it the whole partition)
    val nullLeft = Seq((Some(1L), Option.empty[java.sql.Timestamp])).toDF("k", "t")
    val nl = graft.operators.AsofJoin.join(nullLeft, right, "k", "k", "t", "t",
      direction = "nearest").collect()
    assert(nl.length == 1 && nl.head.isNullAt(3), nl.mkString(";"))
  }

  test("retention: cohort and week-offset math on constructed events") {
    import spark.implicits._
    // pinned UTC instants: Timestamp.valueOf would parse in the JVM
    // default zone and 2026-01-01 00:00 UTC is an exact epoch-week
    // boundary, so a far-east tz could split user 1's week-0 events
    def ts(day: Int, hour: Int = 12) = java.sql.Timestamp.from(
      java.time.Instant.parse(f"2026-01-$day%02dT$hour%02d:00:00Z"))
    // 2026-01-01 12:00 UTC falls in epoch-week W; +7 days → W+1
    val ev = Seq(
      (1L, ts(1)), (1L, ts(2)),   // user 1: week 0 twice (one distinct cell)
      (1L, ts(9)),                // user 1: week-since 1
      (2L, ts(8)), (2L, ts(8, 18)) // user 2: later cohort, week 0 only
    ).toDF("user_id", "ts")
    val got = RelationalQueries.retention(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w1 = got.keys.map(_._1).min // user 1's cohort week
    val w2 = got.keys.map(_._1).max
    assert(w2 == w1 + 1, s"user 2's cohort must be one week later: $got")
    assert(got((w1, 0L)) == 1L, "user 1 active in own week 0 once, despite two events")
    assert(got((w1, 1L)) == 1L)
    assert(got((w2, 0L)) == 1L)
    assert(got.size == 3)
  }

  test("approx distinct is within error of exact (registered KMV default " +
      "AND the HLL engine alternative)") {
    // registered default: KMV bottom-k (k=64, relative error ~1/sqrt(k))
    RelationalQueries.qApproxDistinct(spark, sfDir).collect().foreach { r =>
      val est = r.getAs[Double]("est_users")
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(est - exact) / exact <= 0.3,
        s"KMV est $est vs exact $exact")
    }
    // engine-native alternative: HLL++ at rsd 2 %
    RelationalQueries.qApproxDistinctHll(spark, sfDir).collect().foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"HLL approx $approx vs exact $exact")
    }
  }

  test("interval join: binning matches the exact window incl. boundaries, no nested loop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, unix_micros}
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // order at 12:00; events exactly at the ±1h boundaries INCLUDED,
    // 1µs outside EXCLUDED, plus one far event
    val ord = Seq((100L, ts("2026-01-01 12:00:00"))).toDF("o_orderkey", "o_orderdate")
      .select(col("o_orderkey"), unix_micros(col("o_orderdate")).as("o_us"))
    val ev = Seq(
      (ts("2026-01-01 11:00:00"), 1.0),  // lower boundary: in
      (ts("2026-01-01 13:00:00"), 2.0),  // upper boundary: in
      (ts("2026-01-01 12:30:00"), 4.0),  // inside
      (ts("2026-01-01 10:59:59"), 8.0),  // just outside
      (ts("2026-01-02 12:00:00"), 16.0)) // far
      .toDF("ts", "value")
      .select(unix_micros(col("ts")).as("e_us"), col("value"))
    val joined = graft.queries.RelationalQueries
      .intervalJoinBinned(ord, ev, 3600L * 1000000L)
    val r = joined.head()
    assert(r.getLong(1) == 3L && r.getDouble(2) == 7.0, r)
    // must be an equi join on the bin, not a nested loop
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("interval join bins uniformly across the epoch (pre-epoch timestamps)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // all timestamps NEGATIVE micros, order window straddling the zero
    // boundary: floor-binning must keep bin(t±1h) = bin(t)±1 where
    // truncating DIV bins non-uniformly around zero
    val h = 3600L * 1000000L
    val ord = Seq((1L, -h / 2), (2L, h / 2)).toDF("o_orderkey", "o_us")
    val ev = Seq(
      (-h / 2 - h, 1.0),  // order 1 lower boundary: in
      (-h / 2 + h, 2.0),  // order 1 upper boundary: in (also order 2 lower)
      (-h / 2 - h - 1, 4.0), // 1µs outside order 1
      (-1L, 8.0),         // inside both windows
      (h / 2 + h, 16.0))  // order 2 upper boundary: in
      .toDF("e_us", "value")
    val got = graft.queries.RelationalQueries.intervalJoinBinned(ord, ev, h)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((3L, 11.0)), got)
    assert(got(2L) == ((3L, 26.0)), got)
  }

  test("q_expectations: the length rule fails honestly, the contract rules pass") {
    val rows = graft.queries.RelationalQueries.qExpectations(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    assert(rows.size == 5)
    assert(!rows("doc_min_length_50")._2 && rows("doc_min_length_50")._1 > 0,
      s"the min-length rule must fail on real short docs: $rows")
    Seq("doc_chars_consistent", "order_price_positive",
      "event_type_known", "event_value_not_null").foreach { r =>
      assert(rows(r) == ((0L, true)), s"$r should pass: $rows")
    }
  }

  test("q_ab_test: a planted lift is significant; identical groups are not") {
    import java.sql.Timestamp
    import spark.implicits._
    def ev(lift: Double, dir: String): Unit = {
      val rows = (0 until 4000).toSeq.map { i =>
        val tpe = if (i % 2 == 0) "click" else "view"
        val v = 50.0 + (i % 7) + (if (tpe == "click") lift else 0.0)
        (i.toLong * 20, new Timestamp(1700000000000L + i * 60000L),
          (i % 50).toLong, tpe, v, "{}")
      }
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    ev(lift = 10.0, "/tmp/graft-ab-lift")
    val lifted = graft.queries.RelationalQueries.qAbTest(spark, "/tmp/graft-ab-lift").head()
    assert(lifted.getBoolean(5), s"10-point lift must be significant: $lifted")
    assert(math.abs(lifted.getDouble(2) - 10.0) < 1.0, s"diff near 10: $lifted")

    ev(lift = 0.0, "/tmp/graft-ab-null")
    val nullCase = graft.queries.RelationalQueries.qAbTest(spark, "/tmp/graft-ab-null").head()
    assert(!nullCase.getBoolean(5), s"identical groups must not be significant: $nullCase")
    assert(nullCase.getDouble(3) <= 0 && nullCase.getDouble(4) >= 0,
      s"null-effect CI must cover 0: $nullCase")
  }

  test("q_kmv_setops: estimates track exact set algebra within KMV error bounds") {
    import org.apache.spark.sql.functions._
    val row = graft.queries.RelationalQueries.qKmvSetops(spark, sfDir).head()
    val (ea, eb, eu, ej, ei) = (row.getDouble(0), row.getDouble(1),
      row.getDouble(2), row.getDouble(3), row.getDouble(4))
    // exact ground truth
    val st = spark.read.parquet(s"$sfDir/documents.parquet")
      .select((coalesce(nullif(regexp_extract(col("source"), "([0-9]+)$", 1),
          lit("")).cast("long"), lit(0L)) % 2 === 0).as("even"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0).distinct()
    val aTrue = st.filter(col("even")).select("token").distinct().count().toDouble
    val bTrue = st.filter(!col("even")).select("token").distinct().count().toDouble
    val uTrue = st.select("token").distinct().count().toDouble
    // KMV with k=64: relative standard error ~ 1/sqrt(k-1) ≈ 12.6%;
    // assert within 4 sigma (small-set corner: exact when < k)
    def within(est: Double, truth: Double): Boolean =
      if (truth < 64) est == truth else math.abs(est - truth) / truth < 0.51
    assert(within(ea, aTrue), s"even: $ea vs $aTrue")
    assert(within(eb, bTrue), s"odd: $eb vs $bTrue")
    assert(within(eu, uTrue), s"union: $eu vs $uTrue")
    assert(ej >= 0 && ej <= 1, s"jaccard: $ej")
    assert(ei <= eu + 1e-9, s"intersection <= union: $ei vs $eu")
  }

  test("q_kmv_distinct: exact below k, within 4 sigma above it, and the " +
      "aggregate carries bounded state (k values) per group") {
    import org.apache.spark.sql.functions._
    graft.functions.registerAll(spark)
    val out = RelationalQueries.qKmvDistinct(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_type"), col("user_id"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == exact.keySet)
    out.foreach { case (et, est) =>
      val truth = exact(et).toDouble
      if (truth < 64) assert(est == truth, s"$et: sub-k groups must be exact")
      else assert(math.abs(est - truth) / truth < 0.51,
        s"$et: est $est vs exact $truth outside 4 sigma of 1/sqrt(63)")
    }
    // bounded state: the sketch column itself never exceeds k entries
    val u = graft.queries.PipelineQueries.hashUniform(
      col("user_id").cast("string"))
    val maxSk = ev.select(col("event_type"), u.as("u"))
      .groupBy(col("event_type"))
      .agg(graft.functions.kmv_bottomk(col("u"), 64).as("sk"))
      .select(max(size(col("sk")))).head().getInt(0)
    assert(maxSk <= 64)
  }

  test("q_ewma: the integer recurrence replays driver-side; a level shift " +
      "converges geometrically") {
    val rows = RelationalQueries.qEwma(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // driver replay of one series
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getLong(1))
      assert(ordered.head.isNullAt(3), "first forecast must be null")
      var sPrev = ordered.head.getLong(2) // s_0 = x_0
      ordered.tail.foreach { r =>
        assert(r.getLong(3) == sPrev,
          s"forecast must equal previous smoothed: $r")
        assert(r.getLong(4) == r.getLong(2) - sPrev)
        sPrev = (r.getLong(2) + sPrev) / 2
      }
    }
    // step response: constant 0 then constant 100 -> forecast halves
    // its distance to 100 every step (pure recurrence property)
    var sp = 0L
    val fcs = (1 to 6).map { _ => val fc = sp; sp = (100L + sp) / 2; fc }
    assert(fcs == Seq(0L, 50L, 75L, 87L, 93L, 96L))
  }
test("q_trend: Theil-Sen recovers a planted linear trend exactly and " +
      "shrugs off a planted spike (least squares would not)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // synthetic events: type A = perfect trend n = 2*day + 3 over 30
    // days; type B = same trend with one 50x spike day
    val rows = (for {
      d <- 0 until 30
      kind <- Seq("A", "B")
      c = 2 * d + 3 + (if (kind == "B" && d == 15) 1000 else 0)
      i <- 0 until c
    } yield (kind, d.toLong * 86400000000L + i, 1L)).zipWithIndex.map {
      case ((t, us, u), i) => (i.toLong, t, new java.sql.Timestamp(us / 1000), u, 0.0, "{}")
    }
    val dir = "/tmp/graft-trend-spec"
    rows.toDF("event_id", "event_type", "ts", "user_id", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = RelationalQueries.qTrend(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(got("A")._1 == 2.0, s"clean trend: ${got("A")}")
    assert(got("A")._2 == 3.0, s"clean intercept: ${got("A")}")
    // the spike day perturbs at most the pairs through day 15 — the
    // median slope stays exactly 2
    assert(got("B")._1 == 2.0, s"spiked trend must hold: ${got("B")}")
  }
}