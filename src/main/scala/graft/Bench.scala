package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.Diag.Outcome

/** Benchmark main: one JSON line with per-query steady-state seconds.
  *
  * Every run goes through [[Diag.run]], so it times the full result
  * (a `noop` sink) and a key that throws or passes [[Diag.Bound]] is a
  * failure, not a time. [[Diag.warmUp]] and [[Diag.setup]] run first
  * (build seconds under "setup"). Single-JVM timings swing ±2×
  * run-to-run (JIT/GC ordering), so each key reports the MEDIAN of
  * [[Passes]] passes that alternate list order; per-pass totals go
  * under "orders" and each key's first timed pass under "first". A key
  * that fails is not run again: it reads `null` under "queries" and
  * "first", its message is under "errors", and "total" and "orders"
  * leave it out.
  *
  * The line goes to stdout (the one-line contract) and to
  * `SPARK_GRAFT_BENCH_OUT` (default bench_last.json), so a truncated
  * stdout tail can't lose half the rows; each key's [[Diag.line]] from
  * its last pass goes to the sidecar beside it, `.json` → `.keys.jsonl`.
  * `SPARK_GRAFT_SF_DIR` is the target dir; `SPARK_GRAFT_ONLY` cuts the
  * keys to a comma list.
  */
object Bench {
  /** Per-key setup budgets (seconds) at the driver's sf0.1 dir — ~2×
    * the r8 medians (bench_last.json "setup"). The keys are the
    * index-backed ones: their first run at a dir builds a persisted
    * index or layout, so each build is guarded by its own budget. */
  val setupBudgets: Map[String, Double] = Map(
    "ann_ivf" -> 6.5, "ann_ivfpq" -> 12.0, "ann_pq_topk" -> 2.0,
    "ann_bq_layout" -> 2.5, "ann_cascade_layout" -> 1.5,
    "ann_bq_mutated" -> 6.0,
    "dedup_near_incremental" -> 22.0, "dedup_cosine_incremental" -> 4.5,
    "dedup_edit_incremental" -> 5.0)

  val indexBackedKeys: Set[String] = setupBudgets.keySet

  /** Timed passes in the stable window whose per-key medians are
    * reported. CONTENTION GUARD (r6): the r4/r5 committed artifacts were
    * taken while the host was busy (pass-total spreads of 54 %), so
    * passes keep running until the last [[Passes]] pass totals agree
    * within [[TargetSpread]], up to [[MaxPasses]]; the achieved spread
    * is in the artifact ("spread"), so a still-contended run is visible
    * rather than silent. */
  val Passes = 3
  val MaxPasses = 9
  val TargetSpread = 0.15

  /** A JSON number with `digits` decimals (ms precision for seconds by
    * default), or `null` for a non-finite value. Fixed formatting keeps
    * the line compact (full double toString made it ~9 KB, past bounded
    * stdout captures), and `Locale.ROOT` keeps the decimal point a point
    * under any JVM default locale. */
  def fmt(v: Double, digits: Int = 3): String =
    if (v.isNaN || v.isInfinite) "null"
    else String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** The NUMERIC scale factor of a data dir, for the JSON `"sf"` field:
    * the number after `sf` in the dir's own name (`/data/sf2/sf0.1` is
    * 0.1, `/tmp/graft_sf1` is 1), with a leading digit required so it
    * is a valid JSON number; `null` when the name carries none. The dir
    * rides separately under `"sf_dir"`. */
  def sfOf(dir: String): String =
    Option(Paths.get(dir).getFileName)
      .flatMap(name => "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(name.toString))
      .map(_.group(1)).getOrElse("null")

  /** The timed passes, in run order; each maps the keys it ran to their
    * outcomes. */
  final case class Measured(names: Seq[String], passes: Seq[Map[String, Outcome]]) {
    /** Failed keys with their first failure's message, in name order. */
    val errors: Seq[(String, String)] = names.flatMap(n =>
      passes.iterator.flatMap(_.get(n)).collectFirst {
        case Outcome.Error(msg) => n -> msg
        case _: Outcome.Dnf => n -> "dnf: past the bound, cancelled"
      })
    val failed: Set[String] = errors.map(_._1).toSet
    /** Per pass, the total over the keys that never failed. */
    val totals: Seq[Double] = passes.map(p => names.filterNot(failed).map(p(_).seconds).sum)
    val spread: Double = spreadOf(totals.takeRight(Passes))
    /** The stable-window median per key, NaN for a failed key. */
    lazy val queries: Seq[(String, Double)] = names.map(n => n ->
      (if (failed(n)) Double.NaN else median(passes.takeRight(Passes).map(_(n).seconds))))
    lazy val first: Seq[(String, Double)] = names.map(n =>
      n -> passes.headOption.flatMap(_.get(n)).fold(Double.NaN)(_.seconds))
    lazy val total: Double = queries.map(_._2).filterNot(_.isNaN).sum
    /** Each key's outcome in the last pass that ran it. */
    def last(n: String): Outcome = passes.reverseIterator.flatMap(_.get(n)).next()
  }

  // undefined (fewer than two passes, or a zero total) is +Inf: it
  // keeps the pass loop running and is emitted as null
  private def spreadOf(ts: Seq[Double]): Double =
    if (ts.size < 2 || ts.min <= 0) Double.PositiveInfinity
    else (ts.max - ts.min) / ts.min

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s((s.size - 1) / 2)
  }

  /** Runs timed passes over `names` until the contention guard holds.
    * Pass i runs forward when i is even and in reverse when odd, so
    * position-in-run bias shows up as a forward/reverse total gap. A
    * key that failed is not run again. */
  def measure(names: Seq[String], runOne: String => Outcome): Measured = {
    var m = Measured(names, Nil)
    while (m.passes.size < Passes ||
        (m.passes.size < MaxPasses && m.spread > TargetSpread)) {
      val order = if (m.passes.size % 2 == 0) names else names.reverse
      m = Measured(names, m.passes :+ order.filterNot(m.failed).map(n => n -> runOne(n)).toMap)
    }
    m
  }

  /** A JSON object of already-JSON values, and one of numbers. */
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => Verify.jstr(k) + ":" + v }.mkString("{", ",", "}")
  def objD(kvs: Seq[(String, Double)]): String = obj(kvs.map { case (k, v) => k -> fmt(v) })

  /** The setup builds over their budget; a failed build is one. */
  def overBudget(setup: Seq[(String, Double)]): Seq[(String, Double)] =
    setup.filter { case (n, t) => !(t <= setupBudgets(n)) }

  /** The bench's JSON line. */
  def line(m: Measured, sfDir: String, setup: Seq[(String, Double)],
      setupOver: Seq[(String, Double)]): String = {
    val orders = m.totals.zipWithIndex.map { case (t, j) =>
      (if (j % 2 == 0) s"forward_$j" else s"reverse_$j") -> t
    }
    val setupJson = (if (setup.isEmpty) "" else s""","setup":${objD(setup)}""") +
      (if (setupOver.isEmpty) "" else s""","setup_over_budget":${objD(setupOver)}""")
    s"""{"metric":"total","value":${fmt(m.total)},"unit":"sec","queries":${objD(m.queries)},""" +
      s""""first":${objD(m.first)},"errors":${obj(m.errors.map { case (k, e) => k -> Verify.jstr(e) })},""" +
      s""""sf":${sfOf(sfDir)},"sf_dir":${Verify.jstr(sfDir)},"stat":"median_of_$Passes",""" +
      s""""orders":${objD(orders)},"spread":${fmt(m.spread)},"passes_run":${m.passes.size}$setupJson}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session("graft-bench")
    val names = Diag.selectedKeys
    Diag.warmUp(spark, names, sfDir)
    val setup = Diag.setup(spark, names, sfDir)
    // SETUP BUDGETS (r9): build times are excluded from query medians,
    // so a 3× build regression could hide behind host drift. Breaches
    // are REPORTED (loud, not fatal — a contended host shows here as
    // "spread" shows it query-side). Calibrated for sf0.1 dirs only.
    val setupOver = if (sfDir.contains("sf0.1")) overBudget(setup) else Nil
    setupOver.foreach { case (n, t) => System.err.println(
      f"[bench] SETUP BUDGET BREACH: $n built in $t%.1f s (budget " +
        f"${setupBudgets(n)}%.1f s)") }
    val m = measure(names, n => Diag.run(spark, n, SparkEntry.queries(n), sfDir, Diag.Bound))
    m.errors.foreach { case (n, e) => System.err.println(s"[bench] FAILED: $n: $e") }
    val line = Bench.line(m, sfDir, setup, setupOver)
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    def write(path: String, text: String): Unit =
      try Files.writeString(Paths.get(path), text)
      catch { case NonFatal(e) => System.err.println(s"[bench] write $path: $e") }
    write(outPath, line + "\n")
    write(outPath.stripSuffix(".json") + ".keys.jsonl",
      m.names.map(n => Diag.line(n, m.last(n)) + "\n").mkString)
    spark.stop()
  }
}
