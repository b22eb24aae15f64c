package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec

/**
 * Registry-wide window audit (r8) — the systematic form of the q_rfm
 * fix: an UNPARTITIONED Window executes in ONE task regardless of
 * cluster size (Spark moves all rows to a
 * single partition — the WindowExec warning), so every such window
 * over a corpus- or entity-grain frame is a 100 TB scale-killer.
 *
 * This spec builds every registered query's physical plan and collects
 * the unpartitioned WindowExec nodes. Each hit must be on the
 * WHITELIST below, where each entry names the frame the window runs
 * over and why it is bounded (vocab-sized, days-sized, top-N-cut — a
 * frame that fits one task at ANY corpus scale). A new unpartitioned
 * window over an unbounded frame fails here before it ships.
 */
class WindowAuditSpec extends SparkSpec {

  /** keys whose plans legitimately contain an unpartitioned window,
    * with the bounded frame that makes it safe. */
  private val whitelist: Map[String, String] = Map(
    "q_anomaly" -> ("hour-grain frame (calendar-bounded after the hourly " +
      "collapse; a decade is ~88k rows — the multi-series form keys by " +
      "series, see anomalyStream)"),
    "ann_hybrid" -> "two <=50-row ranked arms (post-TakeOrdered)",
    "q_resample" -> "per-series day grid (days-sized after the daily collapse)",
    "q_lift" -> "<=10-row decile frame (post-aggregation cumulative capture)")

  private def unpartitionedWindows(p: SparkPlan): Seq[WindowExec] =
    p.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }

  test("no registered query plans an unpartitioned Window outside the " +
      "bounded-frame whitelist") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val stale = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      // sparkPlan (pre-AQE) exposes WindowExec nodes directly
      val hits =
        try unpartitionedWindows(fn(spark, sfDir).queryExecution.sparkPlan)
        catch { case _: Throwable => Nil } // build failures belong to other specs
      if (hits.nonEmpty && !whitelist.contains(name)) offenders += name
      if (hits.isEmpty && whitelist.contains(name)) stale += name
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window over a potentially unbounded frame in: " +
        s"${offenders.mkString(", ")} — partition it, range-partition via " +
        "PrefixSum, or whitelist it here with the bounded frame named")
    assert(stale.isEmpty,
      s"whitelist entries no longer needed (keep it tight): ${stale.mkString(", ")}")
  }

  test("no registered query plans a CartesianProduct — every cross pairing " +
      "must be a broadcast nested loop (bounded build side) or keyed join") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val hits =
        try fn(spark, sfDir).queryExecution.sparkPlan
          .collect { case c: CartesianProductExec => c }
        catch { case _: Throwable => Nil }
      if (hits.nonEmpty) offenders += name
    }
    assert(offenders.isEmpty,
      s"CartesianProduct (both sides shuffled, quadratic tasks) in: " +
        s"${offenders.mkString(", ")}")
  }

  test("no registered query plans a ScalaUDF or Python eval — per-row work " +
      "is native codegen'd Catalyst expressions everywhere (registry-wide pin " +
      "of the no-UDF discipline)") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val hit =
        try {
          val p = fn(spark, sfDir).queryExecution.sparkPlan.toString
          p.contains("ScalaUDF") || p.contains("BatchEvalPython") ||
            p.contains("ArrowEvalPython")
        } catch { case _: Throwable => false }
      if (hit) offenders += name
    }
    assert(offenders.isEmpty, s"UDF in the hot path of: ${offenders.mkString(", ")}")
  }

  test("the r8-fixed trio plans no Window at all (regression pin)") {
    for (name <- Seq("q_rfm")) {
      val p = SparkEntry.queries(name)(spark, sfDir).queryExecution.sparkPlan
      assert(p.collect { case w: WindowExec => w }.isEmpty,
        s"$name regained a Window")
    }
  }
}
