// Plan dumps and job listings of search and searchMany over a 200k x 64
// parquet index, first (building) search and a warm one.
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FormattedMode
import scala.collection.mutable.ArrayBuffer

val out = sys.env("HARNESS_OUT")
new java.io.File(out).mkdirs()
val n = 200000
val dims = 64
val t0 = System.nanoTime()
def ms = f"${(System.nanoTime() - t0) / 1e6}%9.1f"
val log = new ArrayBuffer[String]
def say(s: String): Unit = synchronized { log += s }
val stageStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    say(s"$ms job ${e.jobId} stages=${e.stageInfos.map(s => s"${s.name}(${s.numTasks})").mkString(" | ")}")
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    say(s"$ms   done ${s.name} tasks=${s.numTasks} ms=${s.completionTime.getOrElse(0L) - s.submissionTime.getOrElse(0L)} " +
      s"input_bytes=${m.inputMetrics.bytesRead} input_records=${m.inputMetrics.recordsRead} " +
      s"rdds=${s.rddInfos.map(_.name).distinct.mkString(",")}")
  }
})
val dir = java.nio.file.Files.createTempDirectory("harness").resolve("idx").toString
val rnd = new scala.util.Random(1)
import spark.implicits._
spark.range(0L, n.toLong, 1L, 4).mapPartitions { it =>
  it.map { i =>
    val r = new scala.util.Random(i)
    val v = Array.fill(dims)(r.nextGaussian().toFloat)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    (f"v$i%07d", v.map(_ / norm))
  }
}.toDF("item", "embedding").write.parquet(dir)
val idx = graft.index.SemanticIndex.load(spark, dir)
def q(seed: Int) = { val r = new scala.util.Random(seed); Array.fill(dims)(r.nextGaussian().toFloat) }
val qs = (0 until 16).map(j => (j, q(1000 + j))).toDF("query_id", "qvec")
def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
  say(s"--- $name")
  val t = System.nanoTime()
  df.collect()
  say(f"--- $name wall ${(System.nanoTime() - t) / 1e6}%.1f ms")
  org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
  java.nio.file.Files.writeString(java.nio.file.Paths.get(out, s"plan-$name.txt"),
    df.queryExecution.explainString(FormattedMode).replace(dir, "<index>"))
}
dump("search-first", idx.search(q(1), 10))
(2 to 6).foreach(i => idx.search(q(i), 10).collect())
dump("search-warm", idx.search(q(7), 10))
dump("searchMany-first-after-search", idx.searchMany(qs, 10))
val idx2 = graft.index.SemanticIndex.load(spark, dir)
dump("searchMany-first", idx2.searchMany(qs, 10))
(1 to 3).foreach(_ => idx2.searchMany(qs, 10).collect())
dump("searchMany-warm", idx2.searchMany(qs, 10))
// median of 21 warm searches
val walls = (1 to 21).map { i => val t = System.nanoTime(); idx.search(q(100 + i), 10).collect(); (System.nanoTime() - t) / 1e6 }.sorted
say(f"warm search median of 21: ${walls(10)}%.1f ms (min ${walls.head}%.1f, max ${walls.last}%.1f)")
val bytes = scala.util.Try(idx.getClass.getMethod("residentBytes").invoke(idx).toString).getOrElse("n/a")
say(s"residentBytes of the search index: $bytes")
org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "jobs.txt"), log.mkString("\n") + "\n")
System.exit(0)
