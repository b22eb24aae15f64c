package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}

import graft.Verify.jstr

/**
 * Committed, re-runnable SCALE-PROBE artifact (r11 — the r10 verdict's
 * #1): the r10 sf1.0 probe was builder-measured, single-pass and
 * transient; this main turns that measurement into a driver-visible
 * JSON file anyone can regenerate. It times registered keys at each
 * step of a scale LADDER (directories built by [[ScaleGen]], e.g.
 * sf0.1 → 10× → 30×), and emits per-key walls, per-step growth ratios
 * against the data ratio, setup seconds for index-backed keys (budget
 * checks apply only at the sf0.1 calibration dir, like [[Bench]]), and
 * a per-key verdict. The point is the r10 lesson: a 10×-data run
 * CATCHES quadratics that no shuffle-byte meter can see (it caught
 * two), so the artifact's job is the loud ratio, not ±5 % precision —
 * keys run single-pass per dir by default.
 *
 * A key that would hang the probe is the exact failure mode this
 * exists to surface, so each run is bounded by
 * `SPARK_GRAFT_SCALE_TIMEOUT` seconds (default 600): on expiry the
 * key's Spark jobs are cancelled and it reports as `"dnf"` — a
 * committed DNF is the artifact catching a scale-killer, which is the
 * probe doing its job (dedup_containment's r10 DNF is what drove the
 * prefix-posting fix).
 *
 * Usage:
 * {{{
 *   runMain graft.ScaleProbe OUT.json label=dir [label=dir ...]
 *   // default ladder: sf0.1=/root/testdata/sf0.1 sf1=/tmp/graft_sf1
 *   // SPARK_GRAFT_SCALE_KEYS=k1,k2   subset (default: every key)
 *   // SPARK_GRAFT_SCALE_RUNS=1       passes per key per dir (median)
 * }}}
 *
 * Verdict rule (per adjacent ladder step): a key is `super_linear`
 * when wall grows more than `slack ×` the documents-row ratio AND the
 * larger-scale wall exceeds a floor (2 s) — the floor keeps
 * latency-bound keys (scheduling-dominated at every scale) from
 * flagging on noise; `dnf` dominates everything. Otherwise `linearish`.
 */
object ScaleProbe {

  /** Sentinel walls (negative = no measurement): -1 is a TIMEOUT (the
    * probe's target failure mode), -2 a thrown error — distinct
    * verdicts (r11 ADVICE: an error reported as 'dnf' reads as
    * "timed out", which mis-describes a crash). */
  val WallDnf: Double = -1.0
  val WallError: Double = -2.0

  /** Kill-time telemetry per job group (r13 — the r12 verdict's #6: a
    * DNF row carrying only wall = -1 cannot say WHERE the blowup was,
    * so the fix gets guessed instead of aimed). One listener per probe
    * JVM accumulates, per job group, the cumulative stage metrics and
    * the most recent stage's callsite; on timeout the DNF row snapshots
    * them — the stage the clock died in, how many stages completed,
    * and the shuffle mass so far (candidate-pair explosions show up as
    * shuffle records). */
  final class GroupTelemetry extends SparkListener {
    final class Snap {
      @volatile var lastStage: String = ""
      @volatile var lastStageTasks: Int = 0
      var jobs: Int = 0
      var stagesDone: Int = 0
      var shuffleReadBytes: Long = 0L
      var shuffleWriteBytes: Long = 0L
      var shuffleWriteRecords: Long = 0L
      var inputRecords: Long = 0L
    }
    private val byGroup =
      new java.util.concurrent.ConcurrentHashMap[String, Snap]()
    private val groupOfStage =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    def reset(group: String): Unit = byGroup.remove(group)
    def snapshot(group: String): Option[Snap] = Option(byGroup.get(group))
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      if (group != null) {
        val s = byGroup.computeIfAbsent(group, _ => new Snap)
        s.synchronized { s.jobs += 1 }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      if (group != null) {
        groupOfStage.put(e.stageInfo.stageId, group)
        val s = byGroup.computeIfAbsent(group, _ => new Snap)
        s.lastStage = e.stageInfo.name
        s.lastStageTasks = e.stageInfo.numTasks
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val group = groupOfStage.remove(e.stageInfo.stageId)
      val s = if (group == null) null else byGroup.get(group)
      if (s != null) s.synchronized {
        val m = e.stageInfo.taskMetrics
        s.stagesDone += 1
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  /** Pure verdict rule, spec-testable: walls per ladder step (seconds,
    * -1 = DNF/timeout, -2 = error), data ratio per step
    * (rows_{i+1}/rows_i). */
  def verdictOf(walls: Seq[Double], dataRatios: Seq[Double],
      slack: Double = 2.0, floorSec: Double = 2.0): String = {
    if (walls.contains(WallError)) "error"
    else if (walls.exists(_ < 0)) "dnf"
    else {
      val superLin = walls.zip(walls.tail).zip(dataRatios).exists {
        case ((w0, w1), dr) => w0 > 0 && w1 > slack * dr * w0 && w1 > floorSec
      }
      if (superLin) "super_linear" else "linearish"
    }
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("SCALE_last.json")
    val ladder: Seq[(String, String)] = {
      val steps = args.drop(1).toSeq.map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"ladder step must be label=dir, got '$a'")
        (a.take(i), a.drop(i + 1))
      }
      if (steps.nonEmpty) steps
      else Seq("sf0.1" -> "/root/testdata/sf0.1", "sf1" -> "/tmp/graft_sf1")
    }
    val spark = SparkEntry.session("graft-scaleprobe")
    val only = sys.env.get("SPARK_GRAFT_SCALE_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "1").toInt
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_SCALE_TIMEOUT", "600").toInt

    // one-time JVM warmup (codegen/JIT/classloading) — the Bench rule
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }

    val telemetry = new GroupTelemetry
    spark.sparkContext.addSparkListener(telemetry)
    // kill-time diagnostics, keyed "label-or-dir/key" — only DNF/error
    // rows land here
    val dnfDiag = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def diagOf(group: String, name: String): String = {
      // late stage events would be missing from the snapshot; a timed-out
      // key's jobs may still be posting, so a drain that times out is
      // tolerated
      scala.util.Try(ListenerBusBridge.drain(spark.sparkContext))
      val snap = telemetry.snapshot(group)
      val decisions = Seq("jaccard_pairs", "containment", "near_incremental",
          "index_build")
        .flatMap(op => graft.operators.DedupRegime.lastDecision(spark, op)
          .map(d => s"$op=${d.regime}(~${d.prefixMassPerRow}/row)"))
        .mkString(", ")
      snap match {
        case Some(s) =>
          s"""{"killed_in_stage":${jstr(s.lastStage)},""" +
            s""""killed_stage_tasks":${s.lastStageTasks},""" +
            s""""stages_done":${s.stagesDone},""" +
            s""""shuffle_read_bytes":${s.shuffleReadBytes},""" +
            s""""shuffle_write_bytes":${s.shuffleWriteBytes},""" +
            s""""shuffle_write_records":${s.shuffleWriteRecords},""" +
            s""""input_records":${s.inputRecords},""" +
            s""""router":${jstr(decisions)}}"""
        case None => s"""{"router":${jstr(decisions)}}"""
      }
    }

    import scala.concurrent.ExecutionContext.Implicits.global
    def boundedRun(name: String, dir: String): Double = {
      val group = s"scaleprobe-$name"
      telemetry.reset(group)
      val t0 = System.nanoTime()
      val fut = Future {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try SparkEntry.queries(name)(spark, dir).count()
        finally spark.sparkContext.clearJobGroup()
      }
      try {
        Await.result(fut, timeoutSec.seconds)
        (System.nanoTime() - t0) / 1e9
      } catch {
        case _: TimeoutException =>
          val diag = diagOf(group, name)
          dnfDiag.put(s"$dir/$name", diag)
          System.err.println(s"[scaleprobe] DNF: $name at $dir " +
            s"(> $timeoutSec s) — cancelling its jobs; diag: $diag")
          spark.sparkContext.cancelJobGroup(group)
          WallDnf
        case e: Throwable =>
          dnfDiag.put(s"$dir/$name",
            s"""{"error":${jstr(e.toString.take(300))},""" +
              diagOf(group, name).drop(1))
          System.err.println(s"[scaleprobe] ERR: $name at $dir: $e")
          WallError
      }
    }

    val dirRows = ladder.map { case (label, dir) =>
      label -> spark.read.parquet(s"$dir/documents.parquet").count()
    }
    val dataRatios = dirRows.zip(dirRows.tail).map { case ((_, a), (_, b)) =>
      b.toDouble / a }

    // per dir: index-backed setup first (untimed queries pay their
    // build; seconds reported), then ONE untimed warm pass over every
    // key — per-(session, dir) build-once state (split-day memos,
    // cached pivots, parquet footers) otherwise lands on whichever key
    // runs first alphabetically and fakes a super-linear verdict (the
    // first full run flagged q_cuped at 20×; its steady-state at sf1
    // is 0.46 s — the 8 s was the events split-day derivation). A warm
    // pass cannot hide the target class: per-RUN quadratic work is
    // quadratic in every pass. Then `runs` timed passes per key.
    val perDir: Seq[(String, Map[String, Double], Map[String, Double])] =
      ladder.map { case (label, dir) =>
        val setup = names.filter(Bench.indexBackedKeys).map { n =>
          val t0 = System.nanoTime()
          try SparkEntry.queries(n)(spark, dir).count()
          catch { case _: Throwable => () }
          n -> (System.nanoTime() - t0) / 1e9
        }.toMap
        names.foreach(n => boundedRun(n, dir)) // warm, untimed, bounded
        val walls = names.map { n =>
          val ts = (0 until runs).map(_ => boundedRun(n, dir))
          // an error/DNF poisons the key at this dir; else median
          n -> (if (ts.contains(WallError)) WallError
                else if (ts.exists(_ < 0)) WallDnf
                else ts.sorted.apply((ts.size - 1) / 2))
        }.toMap
        System.err.println(f"[scaleprobe] $label done: total " +
          f"${walls.values.filter(_ > 0).sum}%.1f s, dnf ${walls.count(_._2 < 0)}")
        (label, walls, setup)
      }

    val verdicts = names.map { n =>
      n -> verdictOf(perDir.map(_._2(n)), dataRatios)
    }
    // budgets judge only the CALIBRATION dir — the ladder's FIRST step,
    // by position (r11 ADVICE: the old substring test on the dir path
    // silently skipped budget checks for any custom calibration dir
    // not named 'sf0.1')
    val calibrationLabel = ladder.head._1
    val setupOver = perDir.flatMap { case (label, _, setup) =>
      if (label != calibrationLabel) Nil
      else setup.collect { case (n, t)
        if Bench.setupBudgets.get(n).exists(t > _) => s"$label/$n" -> t }
    }

    // dir paths and labels are caller-controlled: every string goes
    // through the shared escaper, every number through Bench.fmt
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    def objD(kvs: Seq[(String, Double)]): String =
      obj(kvs.map { case (k, v) => k -> Bench.fmt(v) })
    val keysJson = obj(names.map { n =>
      val walls = ladder.map { case (label, _) =>
        label -> perDir.find(_._1 == label).get._2(n) }
      val ratios = walls.map(_._2).zip(walls.map(_._2).tail).zipWithIndex.map {
        case ((a, b), i) => s"step${i + 1}" ->
          (if (a > 0 && b > 0) b / a else -1.0) }
      n -> s"""{"wall":${objD(walls)},"ratio":${objD(ratios)},"verdict":${jstr(verdicts.toMap.apply(n))}}"""
    })
    val setupJson = perDir.map { case (label, _, setup) =>
      label -> objD(setup.toSeq.sortBy(_._1)) }
    def verdictList(v: String): String =
      verdicts.filter(_._2 == v).map(kv => jstr(kv._1)).mkString(",")
    val line =
      s"""{"metric":"scale_probe","ladder":${obj(ladder.map { case (l, d) => l -> jstr(d) })},""" +
        s""""rows_documents":${obj(dirRows.map { case (l, r) => l -> r.toString })},""" +
        s""""data_ratio":[${dataRatios.map(Bench.fmt(_)).mkString(",")}],""" +
        s""""runs_per_key":$runs,"timeout_sec":$timeoutSec,""" +
        s""""keys":$keysJson,""" +
        s""""setup":${obj(setupJson)},""" +
        s""""setup_over_budget":${objD(setupOver)},""" +
        s""""dnf":[${verdictList("dnf")}],""" +
        s""""error":[${verdictList("error")}],""" +
        s""""super_linear":[${verdictList("super_linear")}],""" +
        s""""dnf_diag":${obj(dnfDiag.toSeq)}}"""
    println(line)
    try Files.writeString(Paths.get(out), line + "\n")
    catch { case e: Throwable => System.err.println(s"[scaleprobe] write $out: $e") }
    spark.stop()
  }
}
