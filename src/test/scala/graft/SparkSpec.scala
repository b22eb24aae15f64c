package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a generated-code compile error fails the test instead of
      // running the expression or stage interpreted
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(s)
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

/** Base for graft specs: shared session + tiny helpers. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
}
