package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into each layer. A
  * span carries its name, start, end, parent and the op it belongs to;
  * nothing is written until the run ends. With tracing off, `span`
  * only runs its body. */
final class Tracer(var on: Boolean) {
  final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long)

  private val done = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Long = -1L

  /** Time spent in the tracer's own bookkeeping, outside the bodies. */
  var overheadNs = 0L

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        done += Span(id, parent, op, name, start, end)
        overheadNs += (start - t0) + (System.nanoTime() - end)
      }
    }

  def durationsMs(name: String): Seq[Double] =
    done.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  def write(path: Path): Unit = {
    val sb = new StringBuilder
    done.sortBy(_.startNs).foreach { s =>
      sb.append("{\"id\":").append(s.id).append(",\"parent\":").append(s.parent)
        .append(",\"op\":").append(s.op).append(",\"name\":").append(Json.str(s.name))
        .append(",\"start_ns\":").append(s.startNs).append(",\"end_ns\":").append(s.endNs).append("}\n")
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Spark task counters per op label. The label rides on the job's
  * local properties, so each stage is credited to the op that ran it. */
final class Counters extends SparkListener {
  import Counters.Acc

  private val byLabel = new ConcurrentHashMap[String, Acc]()
  private val labelOfStage = new ConcurrentHashMap[Int, String]()
  private val endedJobs = ConcurrentHashMap.newKeySet[Int]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Counters.Prop)))
      .foreach(l => labelOfStage.put(e.stageInfo.stageId, l))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val label = labelOfStage.remove(e.stageInfo.stageId)
    if (label != null) {
      val a = byLabel.computeIfAbsent(label, _ => new Acc)
      val m = e.stageInfo.taskMetrics
      a.synchronized {
        a.stages += 1
        a.tasks += e.stageInfo.numTasks
        if (m != null) {
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          a.spillBytes += m.diskBytesSpilled
          a.resultBytes += m.resultSize
          a.outputBytes += m.outputMetrics.bytesWritten
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
        }
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = endedJobs.add(e.jobId)

  /** Wait until the listener has seen the end of every job in `group`
    * (listener events arrive asynchronously). */
  def await(sc: SparkContext, group: String): Unit = {
    val t0 = System.nanoTime()
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = t0 + 5000000000L
    while (ids.exists(id => !endedJobs.contains(id)) && System.nanoTime() < deadline) Thread.sleep(1)
    awaitNs += System.nanoTime() - t0
  }

  /** Time the client spent in `await`: the counters' cost on the op path. */
  @volatile var awaitNs = 0L

  def get(label: String): Option[Acc] = Option(byLabel.get(label))
}

object Counters {
  val Prop = "perfbench.op"

  val Names: Seq[(String, String)] = Seq(
    "stages" -> "count", "tasks" -> "count", "input_bytes" -> "B", "shuffle_write_bytes" -> "B",
    "shuffle_read_bytes" -> "B", "shuffle_records" -> "count", "spill_bytes" -> "B",
    "result_bytes" -> "B", "output_bytes" -> "B", "task_cpu_ms" -> "ms", "task_gc_ms" -> "ms")

  final class Acc {
    var stages, tasks, inputBytes, shuffleWriteBytes, shuffleReadBytes, shuffleRecords,
      spillBytes, resultBytes, outputBytes, cpuNs, gcMs = 0L
  }

  /** Per-op means of one label's counters over `ops` ops; 0 when the
    * label never ran. */
  def perOp(a: Option[Acc], ops: Int): Seq[(String, Double)] = a match {
    case Some(x) if ops > 0 =>
      val v = Seq(x.stages, x.tasks, x.inputBytes, x.shuffleWriteBytes, x.shuffleReadBytes,
        x.shuffleRecords, x.spillBytes, x.resultBytes, x.outputBytes).map(_.toDouble) ++
        Seq(x.cpuNs / 1e6, x.gcMs.toDouble)
      Names.map(_._1).zip(v.map(_ / ops))
    case _ => Names.map(_._1 -> 0.0)
  }
}

/** Thrown when an op passed its time or disk cap. */
final class CapExceeded(msg: String) extends RuntimeException(msg)

/** Resource guard: every op runs in its own Spark job group under a
  * wall-clock cap, while a watcher sums the scratch area; an op that
  * passes either cap has its jobs cancelled and counts as failed. */
final class Guard(sc: SparkContext, scratch: Path, opCapMs: Long, diskCapBytes: Long) {
  @volatile private var group: String = null
  @volatile private var startNs = 0L
  @volatile private var tripped: String = null
  @volatile private var stopped = false
  @volatile var peakScratchBytes = 0L
  private var seq = 0L

  private val watcher = new Thread(() => {
    while (!stopped) {
      val g = group
      if (g != null && tripped == null) {
        val used = Guard.dirBytes(scratch)
        peakScratchBytes = math.max(peakScratchBytes, used)
        val reason =
          if ((System.nanoTime() - startNs) / 1000000L > opCapMs) s"op passed its ${opCapMs} ms time cap"
          else if (used > diskCapBytes) s"scratch area passed its ${diskCapBytes >> 20} MiB disk cap"
          else null
        if (reason != null) { tripped = reason; sc.cancelJobGroup(g) }
      }
      Thread.sleep(200)
    }
  }, "perfbench-guard")
  watcher.setDaemon(true)
  watcher.start()

  /** Run `body` as one guarded op; with `counters`, its stages are
    * credited to `label`. Untraced ops carry no label, so they never
    * reach the counters. */
  def apply[T](label: String, counters: Option[Counters])(body: => T): T = {
    seq += 1
    val g = s"perfbench-$label-$seq"
    sc.setJobGroup(g, label, interruptOnCancel = true)
    if (counters.nonEmpty) sc.setLocalProperty(Counters.Prop, label)
    tripped = null
    startNs = System.nanoTime()
    group = g
    try {
      val out =
        try body
        catch { case e: Throwable if tripped != null => throw new CapExceeded(tripped) }
      if (tripped != null) throw new CapExceeded(tripped)
      out
    } finally {
      group = null
      sc.clearJobGroup()
      sc.setLocalProperty(Counters.Prop, null)
      counters.foreach(_.await(sc, g))
    }
  }

  def stop(): Unit = { stopped = true; watcher.join(1000) }
}

object Guard {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      var total = 0L
      val it = Files.walk(p)
      try it.forEach(f => if (Files.isRegularFile(f)) total += (try Files.size(f) catch { case _: java.io.IOException => 0L }))
      catch { case _: java.io.UncheckedIOException => () }
      finally it.close()
      total
    }

  /** Bytes of the data files under `p` (hidden checksum files skipped). */
  def dataBytes(p: Path): Long = {
    var total = 0L
    val it = Files.walk(p)
    try it.forEach(f => if (Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")) total += Files.size(f))
    finally it.close()
    total
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val it = Files.walk(p)
      try it.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally it.close()
    }
}
