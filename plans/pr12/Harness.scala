// Layer split of a warm searchMany op over a 100k x 64 parquet index, the
// first search of freshly loaded 200k x 64 instances, and plan dumps.
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

val out = sys.env("HARNESS_OUT")
new java.io.File(out).mkdirs()
val dims = 64
val lines = new scala.collection.mutable.ArrayBuffer[String]
def say(s: String): Unit = { println(s); lines += s }
def now = System.nanoTime()
def ms(t: Long) = (now - t) / 1e6

// per job: task CPU and deserialize time of every task
case class Task(cpuMs: Double, deserMs: Double)
val tasks = new java.util.concurrent.ConcurrentHashMap[Int, java.util.List[Task]]()
val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    tasks.put(e.jobId, java.util.Collections.synchronizedList(new java.util.ArrayList[Task]()))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    Option(stageJob.get(e.stageId)).flatMap(j => Option(tasks.get(j))).foreach(
      _.add(Task(m.executorCpuTime / 1e6, m.executorDeserializeTime.toDouble)))
  }
})
def lastJob: Int = { org.apache.spark.ListenerBusBridge.drain(spark.sparkContext); tasks.keySet.toArray.map(_.asInstanceOf[Int]).max }
def jobTasks(j: Int): Seq[Task] = { import scala.jdk.CollectionConverters._; tasks.get(j).asScala.toSeq }

def write(n: Int): String = {
  val dir = java.nio.file.Files.createTempDirectory("harness").resolve("idx").toString
  import spark.implicits._
  spark.range(0L, n.toLong, 1L, 4).mapPartitions { it =>
    it.map { i =>
      val r = new scala.util.Random(i)
      val v = Array.fill(dims)(r.nextGaussian().toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (f"v$i%07d", v.map(_ / norm))
    }
  }.toDF("item", "embedding").write.parquet(dir)
  dir
}
def q(seed: Int) = { val r = new scala.util.Random(seed); Array.fill(dims)(r.nextGaussian().toFloat) }
// as perfbench's search_batch builds its frame: a local frame of 16 rows
def frame(op: Int): DataFrame =
  spark.createDataFrame((0 until 16).map(j => (j, q(op * 1000 + j)))).toDF("query_id", "qvec")
def median(xs: Seq[Double]) = { val s = xs.sorted; s(s.length / 2) }
def dump(name: String, df: DataFrame, dir: String): Unit =
  java.nio.file.Files.writeString(java.nio.file.Paths.get(out, s"$name.txt"),
    df.queryExecution.explainString(FormattedMode).replace(dir, "<index>"))

// --- warm searchMany, 100k x 64 -------------------------------------------
val dir = write(100000)
val idx = graft.index.SemanticIndex.load(spark, dir)
(1 to 10).foreach(op => idx.searchMany(frame(-op), 10).collect())
val reps = 41
val opWall = (1 to reps).map { op => val t = now; idx.searchMany(frame(op), 10).collect(); ms(t) }
val split = (1 to reps).map { op =>
  val t0 = now
  val qdf = frame(10000 + op)
  val tFrame = ms(t0)
  val t1 = now
  graft.functions.QueryBatch.collect(qdf)
  val tCollect = ms(t1)
  val t2 = now
  val df = idx.searchMany(qdf, 10)
  val tCall = ms(t2)
  val t3 = now
  val plan = df.queryExecution.executedPlan
  val tPlan = ms(t3)
  val t4 = now
  plan.executeCollect()
  val tExec = ms(t4)
  val ts = jobTasks(lastJob)
  (tFrame, tCollect, tCall - tCollect, tPlan, tExec, ts.map(_.cpuMs).sum, ts.map(_.deserMs))
}
say(f"searchMany 100k x $dims, 16 queries, k=10, medians of $reps warm ops (ms):")
say(f"  op (createDataFrame + searchMany + collect)  ${median(opWall)}%8.1f")
say(f"  createDataFrame                               ${median(split.map(_._1))}%8.1f")
say(f"  QueryBatch.collect                            ${median(split.map(_._2))}%8.1f")
say(f"  searchMany call less its collect (analysis)   ${median(split.map(_._3))}%8.1f")
say(f"  planning (executedPlan)                       ${median(split.map(_._4))}%8.1f")
say(f"  executeCollect                                ${median(split.map(_._5))}%8.1f")
say(f"  task CPU, all tasks of the job                ${median(split.map(_._6))}%8.1f")
say(f"  task deserialize, per task: median ${median(split.flatMap(_._7))}%.1f, max ${split.flatMap(_._7).max}%.1f")
dump("searchMany-warm", idx.searchMany(frame(99), 10), dir)

// --- first search of freshly loaded 200k x 64 instances -------------------
val big = write(200000)
def dropBlocks(): Unit = spark.sparkContext.getPersistentRDDs.values
  .filter(_.name == graft.plans.Resident.Name).foreach(_.unpersist(blocking = true))
(1 to 5).foreach { i => graft.index.SemanticIndex.load(spark, big).search(q(-i), 10).collect(); dropBlocks() }
val firsts = (1 to 15).map { i =>
  val ix = graft.index.SemanticIndex.load(spark, big)
  val t = now
  ix.search(q(500 + i), 10).collect()
  val w = ms(t)
  dropBlocks()
  w
}
say(f"first search of 15 freshly loaded 200k x $dims instances: median ${median(firsts)}%.1f ms " +
  f"(min ${firsts.min}%.1f, max ${firsts.max}%.1f)")
val warm = graft.index.SemanticIndex.load(spark, big)
warm.search(q(1), 10).collect()
dump("search-warm", warm.search(q(2), 10), big)
java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "layers.txt"), lines.mkString("\n") + "\n")
System.exit(0)
