package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared state of one benchmark run: the session, the scratch area,
  * the tracer and counters, and the metrics collected so far. */
final class Ctx(val spark: SparkSession, val scratch: Path, val outDir: Path, val seed: Long,
    val seconds: Double, val trace: Boolean) {
  val threads: Int = Runtime.getRuntime.availableProcessors
  val pool = Executors.newFixedThreadPool(threads)
  val tracer = new Tracer(false)
  val counters: Option[Counters] =
    if (trace) { val c = new Counters; spark.sparkContext.addSparkListener(c); Some(c) } else None
  val guard = new Guard(spark.sparkContext, scratch, opCapMs = 60000L, diskCapBytes = 4L << 30)
  val e2e = ArrayBuffer[(String, Double, String)]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val recorders = ArrayBuffer[Recorder]()
  var setupOk = true
  private val startNs = System.nanoTime()
  private var heapPeak = 0L

  def recorder(name: String): Recorder = { val r = new Recorder(name); recorders += r; r }

  def note(s: String): Unit = println(s)

  /** A setup-time shape check: a failed one makes the run incorrect. */
  def require(ok: Boolean, what: String): Unit =
    if (!ok) { setupOk = false; note(s"CHECK FAILED: $what") }

  def elapsedS: Double = (System.nanoTime() - startNs) / 1e9

  def timeMs(body: => Any): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6 }

  /** Full materialization of `df`, discarded: the `noop` sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Guarded counter label only while tracing. */
  def guarded[T](label: String)(body: => T): T = guard(label, if (tracer.on) counters else None)(body)

  /** Driver heap used after a full GC, sampled after set-up and after
    * the timed loop (never inside it); the run reports the peak. The
    * second GC follows Spark's cleaner, which frees broadcast and
    * shuffle blocks only once the first GC has dropped their owners. */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val rt = Runtime.getRuntime
    heapPeak = math.max(heapPeak, rt.totalMemory() - rt.freeMemory())
  }

  def heapPeakMb: Double = heapPeak / 1e6

  /** Runs `body(0)`, `body(1)`, ... until `seconds` have passed (at
    * least `minOps` ops). */
  def loop(seconds: Double, minOps: Int = 1)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || ((System.nanoTime() - t0) / 1e9 < seconds && elapsedS < Main.RunCapS)) {
      tracer.op = i
      body(i)
      i += 1
    }
    sampleHeap()
  }

  /** Median ms of each cut point over `reps` rounds; the rounds visit
    * the cut points in turn, so drift during the run hits all alike. */
  def cuts(reps: Int)(bodies: (() => Any)*): Seq[Double] = {
    val ms = (0 until reps).map(_ => bodies.map(b => timeMs(b())))
    bodies.indices.map(j => Stats.median(ms.map(_(j))))
  }

  /** setup_s, in seconds: one build of the workload's state (generate
    * the inputs, build and persist the index) on a fresh JVM, plus the
    * untimed warm-up ops on it. One build, not a median of several:
    * the runs' median stands in for it, and more builds would not fit
    * the runs' time budget. */
  def setup[S](build: => S)(warmup: S => Unit): (Double, S) = {
    val t0 = System.nanoTime()
    val s = build
    val buildS = (System.nanoTime() - t0) / 1e9
    val warm = timeMs(warmup(s)) / 1000.0
    note(s"setup: build ${Table.fmt(buildS)} s, warm-up ${Table.fmt(warm)} s")
    sampleHeap()
    (buildS + warm, s)
  }

  /** The same seed must give byte-identical inputs: the digest of the
    * inputs in use against that of a fresh generation; another seed
    * must give another digest. */
  def requireSeeded(what: String, used: String, fresh: String, otherSeed: String): Unit = {
    require(used == fresh, s"one seed gave different $what: $used, $fresh")
    require(used != otherSeed, s"another seed gave the same $what")
    note(s"inputs: $what, digest $used")
  }

  /** The timed loop; returns the traced ops' recorder. A trace run
    * alternates untraced and traced ops. The tracing overhead is timed
    * directly on each traced op: the tracer's bookkeeping plus the wait
    * for the listener's counters. The latency gap between the two kinds
    * of op is printed beside it, but with a few ops per run it is noise. */
  def measure(rec: Recorder, op: (Int, Recorder) => Unit, minOps: Int = 1): Option[Recorder] =
    if (!trace) { loop(seconds, minOps)(i => op(i, rec)); None }
    else {
      val traced = recorder(rec.name + "_traced")
      val overheadMs = ArrayBuffer[Double]()
      def spentNs: Long = tracer.overheadNs + counters.fold(0L)(_.awaitNs)
      loop(seconds, math.max(minOps, 2)) { i =>
        tracer.on = i % 2 == 1
        val before = spentNs
        try op(i, if (tracer.on) traced else rec) finally tracer.on = false
        if (i % 2 == 1) overheadMs += (spentNs - before) / 1e6
      }
      layer("trace.op_p50_ms") = traced.p(0.5)
      layer("trace.overhead_ms") = Stats.median(overheadMs.toSeq)
      note(s"tracing: overhead ${Table.fmt(Stats.median(overheadMs.toSeq))} ms per traced op " +
        s"(timed directly); latency gap ${Table.fmt(traced.p(0.5) - rec.p(0.5))} ms between " +
        s"${traced.latMs.length} traced and ${rec.latMs.length} untraced ops, noise below 10 of each")
      Some(traced)
    }
}

object Main {
  /** Hard stop for the timed loops, well inside the 180 s run limit. */
  val RunCapS = 140.0

  val WorkloadNames = Seq("search", "search_batch", "ingest", "dedup")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "items_per_s" -> "1/s", "recall" -> "ratio",
    "index_mb" -> "MB", "heap_peak_mb" -> "MB")

  /** Every per-layer metric, on every workload; a layer that the
    * workload never calls reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "search.decode_ms" -> "ms", "search.score_ms" -> "ms", "search.topk_ms" -> "ms",
    "search.floor_ms" -> "ms", "search.floor_x" -> "x",
    "batch.score_ms" -> "ms", "batch.rank_ms" -> "ms", "batch.floor_ms" -> "ms", "batch.floor_x" -> "x",
    "ingest.embed_ms" -> "ms", "ingest.dupjoin_ms" -> "ms", "ingest.save_ms" -> "ms",
    "ingest.contains_ms" -> "ms", "ingest.search_text_ms" -> "ms",
    "dedup.sketch_ms" -> "ms", "dedup.probe_ms" -> "ms", "dedup.append_ms" -> "ms",
    "dedup.match_ratio" -> "ratio",
    "trace.op_p50_ms" -> "ms", "trace.overhead_ms" -> "ms") ++
    Seq("search", "batch", "ingest", "dedup").flatMap(op => Counters.Names.map { case (n, u) => s"$op.$n" -> u })

  def session(scratch: Path, threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.default.parallelism", threads.toString)
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", scratch.resolve("hadoop").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload ${WorkloadNames.mkString("|")} --seed N " +
      "--seconds S --trace 0|1 --scratch DIR --out DIR")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = kv.getOrElse(k, usage(s"missing --$k"))
    val workload = arg("workload")
    if (!WorkloadNames.contains(workload)) usage(s"unknown workload '$workload'")
    val seed = scala.util.Try(arg("seed").toLong).getOrElse(usage("--seed must be an integer"))
    val seconds = scala.util.Try(arg("seconds").toDouble).getOrElse(usage("--seconds must be a number"))
    val trace = arg("trace") match { case "0" => false; case "1" => true; case _ => usage("--trace must be 0 or 1") }
    val scratch = Paths.get(arg("scratch")).toAbsolutePath
    val outDir = Paths.get(arg("out")).toAbsolutePath
    Files.createDirectories(scratch)

    val threads = Runtime.getRuntime.availableProcessors
    val spark = session(scratch, threads)
    val ctx = new Ctx(spark, scratch, outDir, seed, seconds, trace)
    println(s"perfbench workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"threads=$threads client=closed-loop x1")
    var exit = 0
    try {
      workload match {
        case "search" => Workloads.search(ctx)
        case "search_batch" => Workloads.searchBatch(ctx)
        case "ingest" => Workloads.ingest(ctx)
        case "dedup" => Workloads.dedup(ctx)
      }
      if (trace) ctx.tracer.write(outDir.resolve(s"spans-$workload-$seed.jsonl"))
      emit(ctx)
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run aborted: $e")
        e.printStackTrace()
        exit = 1
    } finally {
      ctx.guard.stop()
      ctx.pool.shutdownNow()
      spark.stop()
    }
    sys.exit(exit)
  }

  private def emit(ctx: Ctx): Unit = {
    val attempted = ctx.recorders.map(_.attempted).sum
    val failed = ctx.recorders.map(_.failed).sum
    println(s"ops: attempted=$attempted failed=$failed error_rate=" +
      Table.fmt(if (attempted == 0) Double.NaN else failed.toDouble / attempted))
    ctx.recorders.foreach { r =>
      println(s"  ${r.name}: ${r.latMs.length} ok, ${r.failed} failed of ${r.attempted}")
      r.errors.foreach(e => println(s"    failure: $e"))
    }
    val metrics =
      if (ctx.trace) PerLayer.map { case (n, u) => (n, ctx.layer.getOrElse(n, 0.0), u) }
      else EndToEnd.map { case (n, u) =>
        (n, ctx.e2e.find(_._1 == n).map(_._2).getOrElse(Double.NaN), u)
      }
    println(if (ctx.trace) "per-layer metrics:" else "end-to-end metrics:")
    metrics.foreach { case (n, v, u) => println(Table.line(n, v, u)) }
    val finite = metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
    val correct = ctx.setupOk && failed == 0 && finite && attempted > 0
    println(Json.result(correct, math.max(attempted, 1), failed, metrics))
  }
}
