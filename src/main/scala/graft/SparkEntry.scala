package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Demonstrates the core reference capability: brute-force vector
    * top-k over the embeddings table. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Queries.annDotTopk(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = graft.queries.Queries.oracles

  private val LocalThreads = """local\[(\*|\d+)(?:,\s*\d+)?\]""".r

  /** The confs every graft main runs with. A master that is already set
    * (`spark-submit --master`, `-Dspark.master`) is kept and its local
    * thread count is the core count; otherwise the master is
    * `local[cpus]` with `cpus` from `SPARK_GRAFT_CPUS`, default 4 (a
    * cluster master takes its core count the same way). Shuffle
    * partitions equal the cores; sessions run in UTC with no UI. */
  def sessionConf(setMaster: Option[String], cpusEnv: Option[String],
      hostCores: Int): Map[String, String] = {
    lazy val cpus = cpusEnv.map(_.trim).filter(_.nonEmpty).map(_.toInt).getOrElse(4)
    val (master, cores) = setMaster match {
      case None => (s"local[$cpus]", cpus)
      case Some(m @ "local") => (m, 1)
      case Some(m @ LocalThreads("*")) => (m, hostCores)
      case Some(m @ LocalThreads(n)) => (m, n.toInt)
      case Some(m) => (m, cpus)
    }
    Map("spark.master" -> master,
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
  }

  /** The one session builder of every graft main: [[sessionConf]] from
    * the process's `spark.master` and `SPARK_GRAFT_CPUS`, WARN logging,
    * graft functions registered. */
  def session(appName: String): SparkSession = {
    val conf = sessionConf(
      new org.apache.spark.SparkConf().getOption("spark.master"),
      sys.env.get("SPARK_GRAFT_CPUS"), Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder().appName(appName).config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(spark)
    spark
  }
}
