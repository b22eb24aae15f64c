package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.queries.{RelationalQueries, TextQueries}

/**
 * r11 operator wave, each replayed by hand on a constructed corpus:
 * Kendall τ-b sign cases, duplicated-5-gram fraction.
 */
class R11OpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_r11_$tag").toString

  private def ts(s: String): Timestamp = Timestamp.valueOf(s + " 00:00:00")

  test("q_kendall: monotone series => tau 1; reversed => -1; the x-tie " +
      "pair is excluded from the denominator (tau-b)") {
    def writeEvents(dir: String, days: Seq[(String, Int, Int)]): Unit =
      days.zipWithIndex.flatMap { case ((day, clicks, buys), di) =>
        (1 to clicks).map(i =>
          (di * 1000L + i, ts(day), 1L, "click", 0.0, "")) ++
          (1 to buys).map(i =>
            (di * 1000L + 500 + i, ts(day), 1L, "purchase", 0.0, ""))
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")

    val up = tmp("kend_up")
    writeEvents(up, Seq(("2024-01-01", 1, 1), ("2024-01-02", 2, 2),
      ("2024-01-03", 3, 3)))
    val r1 = RelationalQueries.qKendall(spark, up).collect().head
    assert(r1.getAs[Long]("n_days") == 3 && r1.getAs[Long]("n_pairs") == 3)
    assert(r1.getAs[Long]("conc") == 3 && r1.getAs[Double]("tau_b") == 1.0, r1)

    val down = tmp("kend_down")
    writeEvents(down, Seq(("2024-01-01", 1, 3), ("2024-01-02", 2, 2),
      ("2024-01-03", 3, 1)))
    val r2 = RelationalQueries.qKendall(spark, down).collect().head
    assert(r2.getAs[Long]("disc") == 3 && r2.getAs[Double]("tau_b") == -1.0, r2)

    val tie = tmp("kend_tie")
    // days: (1,1), (1,2), (2,3) — pair(1,2) ties x; pairs (1,3),(2,3)
    // concordant => C=2, D=0, tie_x=1, tie_y=0
    // tau_b = 2 / sqrt((3-1)·3) = 0.816496...
    writeEvents(tie, Seq(("2024-01-01", 1, 1), ("2024-01-02", 1, 2),
      ("2024-01-03", 2, 3)))
    val r3 = RelationalQueries.qKendall(spark, tie).collect().head
    assert(r3.getAs[Long]("conc") == 2 && r3.getAs[Long]("tie_x") == 1, r3)
    assert(r3.getAs[Double]("tau_b") ==
      math.floor(2.0 / math.sqrt(2.0 * 3.0) * 1e6 + 0.5) / 1e6, r3)
  }

  test("text_dup_ngrams: distinct grams score 0, a repeated 5-word " +
      "chorus crosses the keep bar, short docs hit the one-gram clamp") {
    val dir = tmp("dupng")
    val chorus = Seq.fill(4)("p1 p2 p3 p4 p5").mkString(" ")
    Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "en", "s", 10L),
      (2L, chorus, "en", "s", 20L),
      (3L, "a b", "en", "s", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextQueries.textDupNgrams(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_distinct"),
          r.getAs[Double]("dup_frac"), r.getAs[Boolean]("keep")))).toMap
    assert(got(1L) == ((6L, 6L, 0.0, true)), got.toString)
    // 20 tokens, period-5 repetition: 16 grams, 5 distinct
    assert(got(2L) == ((16L, 5L,
      math.floor(11.0 / 16.0 * 1e6 + 0.5) / 1e6, false)), got.toString)
    assert(got(3L) == ((1L, 1L, 0.0, true)), got.toString)
  }
}
