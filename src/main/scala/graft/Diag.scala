package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Verify.jstr
import graft.plans.Resident

/**
 * The one measuring path, and the diagnostic main built on it.
 *
 * [[run]] times one key: in its own job group, materializing the full
 * result through a `noop` sink (`count()` would let Catalyst drop the
 * projections and aggregates nobody reads). Its [[Outcome]] is `ok`
 * (wall and [[Counters]]), `error` (a non-fatal exception's message)
 * or `dnf` (past the bound; the group's jobs are cancelled). [[Bench]],
 * [[ScaleProbe]] and this main all time through it, and [[line]] is
 * the one JSON form of an outcome.
 *
 * The main runs each key twice at the given dir, a warm pass (JIT,
 * codegen, index builds, memos) then a profiled one, prints the
 * profiled [[line]] and, given a plan dir, writes the formatted
 * executed plan to `<planOutDir>/<key>.txt`.
 *
 * Usage: `runMain graft.Diag <key,key,…|all> <sfDir> [planOutDir]`
 */
object Diag {

  /** How long one run of a key may take before it reads `dnf`. */
  val Bound: FiniteDuration = 600.seconds

  /** What one job group ran. Stage and shuffle counts do not swing run
    * to run the way sub-second walls do; the last stage is the one a
    * cancelled run died in. `residentBytes` is what the run added to
    * `SemanticIndex` resident blocks (off-heap vectors plus rows). */
  final case class Counters(jobs: Int = 0, stages: Int = 0,
      shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
      shuffleWriteRecords: Long = 0L, inputRecords: Long = 0L,
      lastStage: String = "", lastStageTasks: Int = 0, residentBytes: Long = 0L)

  sealed trait Outcome {
    /** The wall in seconds of a run that finished, else NaN. */
    def seconds: Double = Double.NaN
  }
  object Outcome {
    final case class Ok(wall: Double, counters: Counters) extends Outcome {
      override def seconds: Double = wall
    }
    final case class Error(message: String) extends Outcome
    final case class Dnf(counters: Counters) extends Outcome
  }

  /** Accumulates the [[Counters]] of one job group's jobs and stages. */
  final class GroupTelemetry(group: String) extends SparkListener {
    private var c = Counters()
    private val stageIds = scala.collection.mutable.Set.empty[Int]
    def counters: Counters = synchronized(c)
    private def ours(p: java.util.Properties): Boolean =
      p != null && p.getProperty("spark.jobGroup.id") == group
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (ours(e.properties)) synchronized { c = c.copy(jobs = c.jobs + 1) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (ours(e.properties)) synchronized {
        stageIds += e.stageInfo.stageId
        c = c.copy(lastStage = e.stageInfo.name, lastStageTasks = e.stageInfo.numTasks)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (stageIds.remove(e.stageInfo.stageId)) {
        val m = e.stageInfo.taskMetrics
        c = c.copy(stages = c.stages + 1,
          shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          shuffleWriteRecords = c.shuffleWriteRecords + m.shuffleWriteMetrics.recordsWritten,
          inputRecords = c.inputRecords + m.inputMetrics.recordsRead)
      }
    }
  }

  private val runIds = new AtomicLong

  /** Runs `builder(spark, dir)` for `key` in a job group of its own and
    * materializes the result through a `noop` sink, bounded by `bound`.
    * Only non-fatal exceptions become `error`; a run past the bound has
    * its group's jobs cancelled and reads `dnf` with the counters it
    * had reached. */
  def run(spark: SparkSession, key: String,
      builder: (SparkSession, String) => DataFrame, dir: String,
      bound: FiniteDuration): Outcome = {
    val sc = spark.sparkContext
    val group = s"graft-run-${runIds.incrementAndGet()}:$key"
    val telemetry = new GroupTelemetry(group)
    sc.addSparkListener(telemetry)
    val residentBefore = Resident.bytesByRdd(sc)
    // a timed-out run may still be posting events, so a drain that
    // times out is tolerated
    def counters(): Counters = {
      Try(ListenerBusBridge.drain(sc))
      val built = Resident.bytesByRdd(sc).iterator
        .map { case (id, b) => math.max(0L, b - residentBefore.getOrElse(id, 0L)) }.sum
      telemetry.counters.copy(residentBytes = built)
    }
    try {
      val t0 = System.nanoTime()
      val done = Future {
        sc.setJobGroup(group, key, interruptOnCancel = true)
        try builder(spark, dir).write.format("noop").mode("overwrite").save()
        finally sc.clearJobGroup()
      }(ExecutionContext.global)
      try Await.ready(done, bound)
      catch { case _: TimeoutException =>
        val reached = counters()
        sc.cancelJobGroup(group)
        return Outcome.Dnf(reached)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      done.value.get match {
        case Success(_) => Outcome.Ok(wall, counters())
        case Failure(NonFatal(e)) => Outcome.Error(e.toString.take(300))
        case Failure(e) => throw e
      }
    } finally sc.removeSparkListener(telemetry)
  }

  /** The JSON line of an outcome: status, the wall of a finished run,
    * the counters of a run that did not throw (`resident_bytes` only
    * for a run that built resident blocks), the message of one that
    * did, then `extra` fields (already JSON values). */
  def line(key: String, o: Outcome, extra: Seq[(String, String)] = Nil): String = {
    def counters(c: Counters): String =
      s""""jobs":${c.jobs},"stages":${c.stages},""" +
        s""""shuffle_read_bytes":${c.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""shuffle_write_records":${c.shuffleWriteRecords},""" +
        s""""input_records":${c.inputRecords},""" +
        s""""last_stage":${jstr(c.lastStage)},"last_stage_tasks":${c.lastStageTasks}""" +
        (if (c.residentBytes > 0) s""","resident_bytes":${c.residentBytes}""" else "")
    val body = o match {
      case Outcome.Ok(wall, c) => s""""status":"ok","wall_s":${Bench.fmt(wall)},${counters(c)}"""
      case Outcome.Error(msg) => s""""status":"error","error":${jstr(msg)}"""
      case Outcome.Dnf(c) => s""""status":"dnf",${counters(c)}"""
    }
    (s""""key":${jstr(key)},$body""" +: extra.map { case (k, v) => s"${jstr(k)}:$v" })
      .mkString("{", ",", "}")
  }

  /** The registered keys, sorted; only those in the comma list
    * `SPARK_GRAFT_ONLY` when it is set. */
  def selectedKeys: Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
  }

  /** One untimed pass of every key at the `sf0.001` dir beside `dir`:
    * it pays the one-time JVM costs (codegen, JIT, classloading) that a
    * long-lived cluster amortizes over thousands of queries. */
  def warmUp(spark: SparkSession, keys: Seq[String], dir: String): Unit = {
    val small = Paths.get(dir).resolveSibling("sf0.001").toString
    keys.foreach(k => run(spark, k, SparkEntry.queries(k), small, Bound))
  }

  /** The index-backed keys' first run at `dir`, which pays the index or
    * layout build that a deployment amortizes over all later probes;
    * each build's seconds (NaN for one that failed). */
  def setup(spark: SparkSession, keys: Seq[String], dir: String): Seq[(String, Double)] =
    keys.filter(Bench.indexBackedKeys).map(k =>
      k -> run(spark, k, SparkEntry.queries(k), dir, Bound).seconds)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Diag <key,key,...|all> <sfDir> [planOutDir]")
    val keys =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args(1)
    val planOut = args.lift(2)
    planOut.foreach(d => Files.createDirectories(Paths.get(d)))

    val spark = SparkEntry.session("graft-diag")
    // the noop write's own execution, whose plan is the final adaptive one
    @volatile var lastRun: Option[QueryExecution] = None
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        lastRun = Some(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    keys.foreach { key =>
      // looked up inside the run, so an unknown key reads as an error
      def once(): Outcome = run(spark, key, (s, d) => SparkEntry.queries(key)(s, d), sfDir, Bound)
      val o = once() match {
        case _: Outcome.Ok => once()
        case failed => failed
      }
      if (o.isInstanceOf[Outcome.Ok])
        for (dir <- planOut; qe <- lastRun)
          Files.writeString(Paths.get(dir, s"$key.txt"), qe.explainString(FormattedMode))
      println(line(key, o))
    }
    spark.stop()
  }
}
