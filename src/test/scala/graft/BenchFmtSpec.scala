package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plumbing shared by the mains: JSON number emission (locale-free,
  * `null` for values that are not finite, `sf` taken from the dir's own
  * name), the one JSON string escaper, and the one session policy. */
class BenchFmtSpec extends AnyFunSuite {

  test("fmt writes a decimal point under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(Bench.fmt(0.088) == "0.088")
      assert(Bench.fmt(1234.5) == "1234.500")
      assert(Bench.fmt(-2.0) == "-2.000")
      assert(Bench.fmt(0.03125, 4) == "0.0313")
    } finally java.util.Locale.setDefault(saved)
  }

  test("fmt emits null for NaN and infinities, never a sentinel number") {
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach(v =>
      assert(Bench.fmt(v) == "null" && Bench.fmt(v, 4) == "null", s"$v"))
    assert(Bench.fmt(0.0) == "0.000")
  }

  test("sfOf reads the dir's own name and requires a leading digit") {
    assert(Bench.sfOf("/data/testdata/sf0.1") == "0.1")
    assert(Bench.sfOf("/data/sf2/sf0.01/") == "0.01")
    assert(Bench.sfOf("/tmp/graft_sf1") == "1")
    assert(Bench.sfOf("/data/sf2/corpus") == "null")
    assert(Bench.sfOf("/data/sf.5") == "null")
  }

  test("jstr escapes quote, backslash and every control character") {
    assert(Verify.jstr("plain") == "\"plain\"")
    assert(Verify.jstr("a\tb") == "\"a\\tb\"")
    assert(Verify.jstr("a\rb\nc") == "\"a\\rb\\nc\"")
    assert(Verify.jstr("say \"hi\"") == "\"say \\\"hi\\\"\"")
    assert(Verify.jstr("C:\\dir") == "\"C:\\\\dir\"")
    assert(Verify.jstr("x\u0001y") == "\"x\\u0001y\"")
    assert(Verify.jstr("é→ü") == "\"é→ü\"")
  }

  test("session conf: an explicit master wins, then SPARK_GRAFT_CPUS, then 4; " +
      "shuffle partitions follow the cores") {
    def rule(m: Option[String], env: Option[String]): (String, String) = {
      val c = SparkEntry.sessionConf(m, env, hostCores = 12)
      (c("spark.master"), c("spark.sql.shuffle.partitions"))
    }
    assert(rule(None, None) == ("local[4]", "4"))
    assert(rule(None, Some("8")) == ("local[8]", "8"))
    assert(rule(Some("local[16]"), Some("8")) == ("local[16]", "16"))
    assert(rule(Some("local[2,3]"), None) == ("local[2,3]", "2"))
    assert(rule(Some("local[*]"), Some("8")) == ("local[*]", "12"))
    assert(rule(Some("local"), Some("8")) == ("local", "1"))
    // a cluster master keeps itself; its core count is the env's or 4
    assert(rule(Some("spark://host:7077"), Some("32")) == ("spark://host:7077", "32"))
    assert(rule(Some("yarn"), None) == ("yarn", "4"))
    val c = SparkEntry.sessionConf(None, None, hostCores = 12)
    assert(c("spark.sql.session.timeZone") == "UTC" && c("spark.ui.enabled") == "false")
  }

  test("SparkEntry.scala is the only main source that builds a SparkSession") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val builders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder()"))
      .map(p => root.relativize(p).toString).toSeq
    assert(builders == Seq("graft/SparkEntry.scala"), builders.mkString(", "))
  }
}
