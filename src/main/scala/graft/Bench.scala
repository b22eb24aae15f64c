package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: one JSON line with per-query steady-state seconds.
  *
  * Each query is run once untimed at sf0.001 first — that pays the
  * one-time JVM costs (whole-stage-codegen Janino compiles, shuffle
  * service init, parquet reader classloading, C2 JIT) that a long-lived
  * cluster amortizes across thousands of queries, then timed at the
  * target scale factor.
  *
  * Single-JVM timings here swing ±2× run-to-run (JIT/GC ordering — the
  * r3 driver artifact showed untouched trivial queries moving 0.37→1.79 s),
  * so the reported number per query is the MEDIAN of `SPARK_GRAFT_BENCH_RUNS`
  * (default 3) passes, and the passes alternate list order
  * (forward, reverse, forward): per-pass totals are emitted under
  * "orders" so position-in-run effects are measurable instead of asserted.
  * The JSON line goes to stdout (driver contract) AND to a file
  * (`SPARK_GRAFT_BENCH_OUT`, default bench_last.json in the cwd) so a
  * truncated stdout tail can't lose half the rows.
  */
object Bench {
  /** Queries whose first run at the target dir builds a persisted
    * index/layout; the build runs once untimed and is reported (and
    * budget-guarded) under "setup". */
  val indexBackedKeys: Set[String] = Set("ann_ivf", "ann_ivfpq",
    "ann_pq_topk", "ann_bq_layout", "ann_cascade_layout", "ann_bq_mutated",
    "mm_phash_incremental",
    "dedup_near_incremental", "dedup_cosine_incremental",
    "dedup_edit_incremental", "q_bucket_join",
    "q_incremental_agg")

  /** Per-key setup budgets (seconds) at the driver's sf0.1 dir — ~2×
    * the r8 medians (bench_last.json "setup"); every index-backed key
    * must carry one so a new build-once artifact can't ship unguarded
    * (spec-pinned). */
  val setupBudgets: Map[String, Double] = Map(
    "ann_ivf" -> 6.5, "ann_ivfpq" -> 12.0, "ann_pq_topk" -> 2.0,
    "ann_bq_layout" -> 2.5, "ann_cascade_layout" -> 1.5,
    "ann_bq_mutated" -> 6.0, "mm_phash_incremental" -> 4.0,
    "dedup_near_incremental" -> 22.0, "dedup_cosine_incremental" -> 4.5,
    "dedup_edit_incremental" -> 5.0,
    "q_bucket_join" -> 18.0, "q_incremental_agg" -> 5.5)

  /** A JSON number with ms precision, or `null` for a non-finite value.
    * Fixed formatting keeps the line compact (full double toString made
    * it ~9 KB, past bounded stdout captures), and `Locale.ROOT` keeps the
    * decimal point a point under any JVM default locale. */
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** The NUMERIC scale factor of a data dir, for the JSON `"sf"` field:
    * the number after `sf` in the dir's own name (`/data/sf2/sf0.1` is
    * 0.1, `/tmp/graft_sf1` is 1), with a leading digit required so it
    * is a valid JSON number; `null` when the name carries none. The dir
    * rides separately under `"sf_dir"`. */
  def sfOf(dir: String): String =
    Option(Paths.get(dir).getFileName)
      .flatMap(name => "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(name.toString))
      .map(_.group(1)).getOrElse("null")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    // Index-backed queries run once untimed at the TARGET dir first:
    // that pays the one-time index build (amortized over all future
    // probes on a real deployment), so the timed number below measures
    // the probe. The build seconds are reported in "setup", not hidden.
    val indexBacked = names.filter(Bench.indexBackedKeys)
    val setup = indexBacked.map { name =>
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // SETUP BUDGETS (r9 — the r8 verdict's #6): build times are
    // excluded from query medians, so a real 3× build regression could
    // hide behind host drift with nothing watching. Budgets are ~2× the
    // r8 sf0.1 medians; breaches are REPORTED in the artifact (loud,
    // not fatal — a contended host shows here the same way "spread"
    // shows query-side contention). Calibrated for the driver's sf0.1
    // dir only; other scales report setup without judging it.
    val setupBudget: Map[String, Double] =
      if (!sfDir.contains("sf0.1")) Map.empty else Bench.setupBudgets
    val setupOver = setup.filter { case (n, t) =>
      setupBudget.get(n).exists(t > _) }
    setupOver.foreach { case (n, t) => System.err.println(
      f"[bench] SETUP BUDGET BREACH: $n built in $t%.1f s (budget " +
        f"${setupBudget(n)}%.1f s)") }
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try { SparkEntry.queries(name)(spark, sfDir).count() }
      catch { case _: Throwable => -1L }
      (System.nanoTime() - t0) / 1e9
    }
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // CONTENTION GUARD (r6): the r4/r5 committed artifacts were taken
    // while the host was busy (pass-total spreads of 54 %), making
    // round-over-round totals useless as a regression signal. Instead
    // of hoping the host is quiet, keep running passes until the last
    // `passes` pass totals agree within SPARK_GRAFT_BENCH_SPREAD
    // (default 15 %), up to SPARK_GRAFT_BENCH_MAX_RUNS (default 9).
    // The reported per-query number is the median over that stable
    // window only; the achieved spread is in the artifact ("spread"),
    // so a still-contended run is visible rather than silent.
    val maxPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_RUNS", "9").toInt
      .max(passes)
    val targetSpread = sys.env.getOrElse("SPARK_GRAFT_BENCH_SPREAD", "0.15").toDouble
    // undefined (fewer than two passes, or a zero total) is +Inf: it
    // keeps the loop running and is emitted as null
    def spreadOf(ts: Seq[Double]): Double =
      if (ts.size < 2 || ts.min <= 0) Double.PositiveInfinity
      else (ts.max - ts.min) / ts.min
    // pass i order: even = forward, odd = reverse — position-in-run bias
    // shows up as a forward/reverse total gap rather than silently
    // inflating whichever query happens to run first.
    val perPass = collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val passTotals = collection.mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (i < passes ||
        (i < maxPasses && spreadOf(passTotals.takeRight(passes).toSeq) > targetSpread)) {
      val order = if (i % 2 == 0) names else names.reverse
      val timed = order.map(n => n -> timeOne(n))
      perPass += timed.toMap
      passTotals += timed.map(_._2).sum
      i += 1
    }
    val window = perPass.takeRight(passes).toSeq
    val windowSpread = spreadOf(passTotals.takeRight(passes).toSeq)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s((s.size - 1) / 2)
    }
    val results = names.map(n => n -> median(window.map(_(n))))
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val orders: Seq[(String, Double)] = passTotals.toSeq.zipWithIndex.map { case (t, j) =>
      (if (j % 2 == 0) s"forward_$j" else s"reverse_$j") -> t
    }
    val setupJson = (if (setup.isEmpty) "" else s""","setup":${obj(setup)}""") +
      (if (setupOver.isEmpty) "" else s""","setup_over_budget":${obj(setupOver)}""")
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${obj(results)},"sf":${sfOf(sfDir)},"sf_dir":"$sfDir","stat":"median_of_$passes","orders":${obj(orders)},"spread":${fmt(windowSpread)},"passes_run":$i$setupJson}"""
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    try Files.writeString(Paths.get(outPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath: $e") }
    spark.stop()
  }
}
