package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Bench JSON line's number emission: locale-free, `null` for
  * values that are not finite, and `sf` taken from the dir's own name. */
class BenchFmtSpec extends AnyFunSuite {

  test("fmt writes a decimal point under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(Bench.fmt(0.088) == "0.088")
      assert(Bench.fmt(1234.5) == "1234.500")
      assert(Bench.fmt(-2.0) == "-2.000")
    } finally java.util.Locale.setDefault(saved)
  }

  test("fmt emits null for NaN and infinities, never a sentinel number") {
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach(v =>
      assert(Bench.fmt(v) == "null", s"$v"))
    assert(Bench.fmt(0.0) == "0.000")
  }

  test("sfOf reads the dir's own name and requires a leading digit") {
    assert(Bench.sfOf("/data/testdata/sf0.1") == "0.1")
    assert(Bench.sfOf("/data/sf2/sf0.01/") == "0.01")
    assert(Bench.sfOf("/tmp/graft_sf1") == "1")
    assert(Bench.sfOf("/data/sf2/corpus") == "null")
    assert(Bench.sfOf("/data/sf.5") == "null")
  }
}
