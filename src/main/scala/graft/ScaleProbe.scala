package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.Diag.Outcome
import graft.Verify.jstr

/**
 * Committed, re-runnable SCALE-PROBE artifact: times registered keys at
 * each step of a scale LADDER (directories built by [[ScaleGen]], e.g.
 * sf0.1 → 10× → 30×), and emits per-key walls, per-step growth ratios
 * against the data ratio, setup seconds for index-backed keys (budgets
 * judge only the first, calibration, step), and a per-key verdict. A
 * 10×-data run CATCHES quadratics that no shuffle-byte meter can see,
 * so the artifact's job is the loud ratio, not ±5 % precision — each
 * key runs one timed pass per dir, through [[Diag.run]].
 *
 * A key that would hang the probe is the exact failure mode this
 * exists to surface, so each run is bounded by [[Diag.Bound]]: on
 * expiry the key's Spark jobs are cancelled and it reports as `"dnf"`
 * — a committed DNF is the artifact catching a scale-killer, which is
 * the probe doing its job (dedup_containment's r10 DNF is what drove
 * the prefix-posting fix). A DNF or error row's [[Diag.line]] lands
 * under `"dnf_diag"`.
 *
 * Usage:
 * {{{
 *   runMain graft.ScaleProbe OUT.json label=dir [label=dir ...]
 *   // default ladder: sf0.1=/root/testdata/sf0.1 sf1=/tmp/graft_sf1
 *   // SPARK_GRAFT_ONLY=k1,k2   subset (default: every key)
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

  /** A run's wall for [[verdictOf]]: its seconds, or the sentinel of
    * a run that did not finish. */
  def wallOf(o: Outcome): Double = o match {
    case Outcome.Ok(wall, _) => wall
    case _: Outcome.Error => WallError
    case _: Outcome.Dnf => WallDnf
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
    val names = Diag.selectedKeys
    Diag.warmUp(spark, names, ladder.head._2)

    // kill-time diagnostics, keyed "dir/key" — only DNF/error rows land
    // here: where a DNF's clock died, and the dedup router's decisions
    val dnfDiag = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timed(name: String, dir: String): Double = {
      val o = Diag.run(spark, name, SparkEntry.queries(name), dir, Diag.Bound)
      if (!o.isInstanceOf[Outcome.Ok]) {
        val decisions = Seq("jaccard_pairs", "containment", "near_incremental",
            "index_build")
          .flatMap(op => graft.operators.DedupRegime.lastDecision(spark, op)
            .map(d => s"$op=${d.regime}(~${d.prefixMassPerRow}/row)"))
          .mkString(", ")
        val diag = Diag.line(name, o, Seq("router" -> jstr(decisions)))
        dnfDiag.put(s"$dir/$name", diag)
        System.err.println(s"[scaleprobe] $name at $dir: $diag")
      }
      wallOf(o)
    }

    val dirRows = ladder.map { case (label, dir) =>
      label -> spark.read.parquet(s"$dir/documents.parquet").count() }
    val dataRatios = dirRows.zip(dirRows.tail).map { case ((_, a), (_, b)) => b.toDouble / a }

    // per dir: index-backed setup first (untimed queries pay their
    // build; seconds reported), then ONE untimed warm pass over every
    // key — per-(session, dir) build-once state (split-day memos,
    // cached pivots, parquet footers) otherwise lands on whichever key
    // runs first alphabetically and fakes a super-linear verdict (the
    // first full run flagged q_cuped at 20×; its steady-state at sf1
    // is 0.46 s — the 8 s was the events split-day derivation). A warm
    // pass cannot hide the target class: per-RUN quadratic work is
    // quadratic in every pass. Then one timed pass per key.
    val perDir: Seq[(String, Map[String, Double], Seq[(String, Double)])] =
      ladder.map { case (label, dir) =>
        val setup = Diag.setup(spark, names, dir)
        names.foreach(n => timed(n, dir)) // warm, untimed, bounded
        val walls = names.map(n => n -> timed(n, dir)).toMap
        System.err.println(f"[scaleprobe] $label done: total " +
          f"${walls.values.filter(_ > 0).sum}%.1f s, dnf ${walls.count(_._2 < 0)}")
        (label, walls, setup)
      }

    val verdicts = names.map(n => n -> verdictOf(perDir.map(_._2(n)), dataRatios))
    // budgets judge only the CALIBRATION dir — the ladder's FIRST step,
    // by position, whatever the dir is named
    val calibrationLabel = ladder.head._1
    val setupOver = perDir.flatMap { case (label, _, setup) =>
      if (label != calibrationLabel) Nil
      else Bench.overBudget(setup).map { case (n, t) => s"$label/$n" -> t }
    }

    // dir paths and labels are caller-controlled: every string goes
    // through the shared escaper, every number through Bench.fmt
    import Bench.{obj, objD}
    val keysJson = obj(names.map { n =>
      val walls = perDir.map { case (label, ws, _) => label -> ws(n) }
      val ratios = walls.map(_._2).zip(walls.map(_._2).tail).zipWithIndex.map {
        case ((a, b), i) => s"step${i + 1}" ->
          (if (a > 0 && b > 0) b / a else -1.0) }
      n -> s"""{"wall":${objD(walls)},"ratio":${objD(ratios)},"verdict":${jstr(verdicts.toMap.apply(n))}}"""
    })
    val setupJson = perDir.map { case (label, _, setup) =>
      label -> objD(setup) }
    def verdictList(v: String): String =
      verdicts.filter(_._2 == v).map(kv => jstr(kv._1)).mkString(",")
    val line =
      s"""{"metric":"scale_probe","ladder":${obj(ladder.map { case (l, d) => l -> jstr(d) })},""" +
        s""""rows_documents":${obj(dirRows.map { case (l, r) => l -> r.toString })},""" +
        s""""data_ratio":[${dataRatios.map(Bench.fmt(_)).mkString(",")}],""" +
        s""""timeout_sec":${Diag.Bound.toSeconds},""" +
        s""""keys":$keysJson,""" +
        s""""setup":${obj(setupJson)},""" +
        s""""setup_over_budget":${objD(setupOver)},""" +
        s""""dnf":[${verdictList("dnf")}],""" +
        s""""error":[${verdictList("error")}],""" +
        s""""super_linear":[${verdictList("super_linear")}],""" +
        s""""dnf_diag":${obj(dnfDiag.toSeq)}}"""
    println(line)
    try Files.writeString(Paths.get(out), line + "\n")
    catch { case NonFatal(e) => System.err.println(s"[scaleprobe] write $out: $e") }
    spark.stop()
  }
}
