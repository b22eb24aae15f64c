package graft

/**
 * r10 continuation analytics: lagged cross-correlation, pinned to
 * hand-computed ground truth on constructed tables.
 */
class CohortStatsSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDir(rows: Seq[(Long, Int, String)]): String = {
    // (event_id, epoch-day, event_type)
    val dir = java.nio.file.Files.createTempDirectory("graft_cc").toString
    rows.map { case (id, day, et) =>
      (id, new java.sql.Timestamp(day * 86400000L), id % 7, et, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("q_cross_corr: purchases that exactly mirror clicks two days " +
      "later correlate 1.0 at lag 2 and below 1 elsewhere") {
    val pattern = Seq(1, 2, 3, 4, 5, 1, 2, 3, 4, 5)
    var id = 0L
    val rows = pattern.zipWithIndex.flatMap { case (c, d) =>
      (1 to c).flatMap { _ =>
        id += 2
        Seq((id, d, "click"), (id + 1, d + 2, "purchase"))
      }
    }
    val r = graft.queries.RelationalQueries
      .qCrossCorr(spark, eventsDir(rows)).collect()
    assert(r.length == 8, r.mkString(";"))
    val byLag = r.map(x => x.getAs[Long]("lag") -> x).toMap
    assert(byLag(2L).getAs[Double]("xcorr") == 1.0, r.mkString(";"))
    // dense range is 0..11; lag 2 pairs d = 0..9
    assert(byLag(2L).getAs[Long]("n_pairs") == 10L, r.mkString(";"))
    assert(byLag(0L).getAs[Double]("xcorr") < 1.0, r.mkString(";"))
    assert(byLag(1L).getAs[Double]("xcorr") < 1.0, r.mkString(";"))
  }
}
