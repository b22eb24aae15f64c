package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.ListenerBusBridge
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Verify.jstr

/**
 * Diagnostic main: what one registered query costs and what plan it ran.
 * Per key, a warm pass (JIT, codegen, index builds, memos) and then a
 * profiled pass that materializes the full result through a `noop` sink
 * — `count()` would let Catalyst drop the projections nobody reads. The
 * profiled pass prints one JSON line with its wall and the deterministic
 * [[ScaleProbe.GroupTelemetry]] counters (stage and shuffle counts do
 * not swing run to run the way sub-second walls do), and, given a plan
 * dir, writes its formatted executed plan to `<planOutDir>/<key>.txt`.
 * A key that throws reads `"status":"error"` with no wall.
 *
 * Usage: `runMain graft.Diag <key,key,…|all> <sfDir> [planOutDir]`
 */
object Diag {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Diag <key,key,...|all> <sfDir> [planOutDir]")
    val keys =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args(1)
    val planOut = args.lift(2)
    planOut.foreach(d => Files.createDirectories(Paths.get(d)))

    val spark = SparkEntry.session("graft-diag")
    val sc = spark.sparkContext
    val telemetry = new ScaleProbe.GroupTelemetry
    sc.addSparkListener(telemetry)
    // the noop write's own execution, whose plan is the final adaptive one
    @volatile var lastRun: Option[QueryExecution] = None
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        lastRun = Some(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def materialize(key: String): Unit =
      SparkEntry.queries(key)(spark, sfDir).write.format("noop").mode("overwrite").save()

    keys.foreach { key =>
      val line = try {
        materialize(key)
        val group = s"diag:$key"
        ListenerBusBridge.drain(sc)
        telemetry.reset(group)
        sc.setJobGroup(group, key)
        val t0 = System.nanoTime()
        try materialize(key) finally sc.clearJobGroup()
        val wall = (System.nanoTime() - t0) / 1e9
        ListenerBusBridge.drain(sc)
        for (dir <- planOut; qe <- lastRun)
          Files.writeString(Paths.get(dir, s"$key.txt"), qe.explainString(FormattedMode))
        okLine(key, wall, telemetry.snapshot(group))
      } catch { case NonFatal(e) =>
        s"""{"key":${jstr(key)},"status":"error","error":${jstr(e.toString.take(300))}}"""
      }
      println(line)
    }
    spark.stop()
  }

  /** The JSON line of a key that ran: its wall and its group's counters
    * (all 0 when the group started no job). */
  def okLine(key: String, wall: Double, s: Option[ScaleProbe.GroupTelemetry#Snap]): String = {
    def counter(f: ScaleProbe.GroupTelemetry#Snap => Long): Long = s.fold(0L)(f)
    s"""{"key":${jstr(key)},"status":"ok","wall_s":${Bench.fmt(wall)},""" +
      s""""jobs":${counter(_.jobs.toLong)},"stages":${counter(_.stagesDone.toLong)},""" +
      s""""shuffle_read_bytes":${counter(_.shuffleReadBytes)},""" +
      s""""shuffle_write_bytes":${counter(_.shuffleWriteBytes)},""" +
      s""""shuffle_write_records":${counter(_.shuffleWriteRecords)},""" +
      s""""input_records":${counter(_.inputRecords)}}"""
  }
}
