package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamOps

final case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** Streaming operators driven through MemoryStream → memory sink. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("windowed agg with watermark emits per-window counts") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.windowedEventAgg(in.toDF(), window = "10 minutes",
        delay = "5 minutes")
      .writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 2, "click", 2.0),
        Ev(ts(11), 1, "view", 5.0))
      q.processAllAvailable()
      // advance watermark past 10:10 so the first window closes
      in.addData(Ev(ts(21), 3, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg").collect()
      val first = rows.find(r => r.getAs[String]("event_type") == "click" &&
        r.getAs[Timestamp]("window_start") == ts(0))
      assert(first.isDefined, s"missing first window in ${rows.mkString(";")}")
      assert(first.get.getAs[Long]("n_events") == 2)
      assert(first.get.getAs[Double]("sum_value") == 3.0)
    } finally q.stop()
  }

  test("streaming dedup-by-key keeps first arrival within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.dedupByKey(in.toDF(), Seq("user_id", "event_type"),
        delay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Ev(ts(1), 1, "click", 1.0),
        Ev(ts(2), 1, "click", 99.0), // dup key within watermark -> dropped
        Ev(ts(3), 2, "click", 2.0))
      q.processAllAvailable()
      val rows = spark.table("dedup_stream").collect()
      assert(rows.length == 2)
      val u1 = rows.find(_.getAs[Long]("user_id") == 1).get
      assert(u1.getAs[Double]("value") == 1.0, "first arrival must win")
    } finally q.stop()
  }

  test("streaming index add: items stream into a loadable parquet index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sadd").toString
    val in = MemoryStream[String]
    val q = StreamOps.streamingIndexAdd(in.toDF(), "value",
      s"$dir/idx", s"$dir/ckpt")
    try {
      in.addData("alpha beta", "gamma delta")
      q.processAllAvailable()
      in.addData("epsilon zeta")
      q.processAllAvailable()
      val idx = graft.index.SemanticIndex.load(spark, s"$dir/idx")
      assert(idx.count() == 3)
      // streamed embeddings are identical to batch embeddings
      val emb = idx.records.filter("item = 'alpha beta'")
        .head().getSeq[Float](1)
      assert(emb == graft.index.HashEmbedder(64).embedOne("alpha beta").toSeq)
      assert(idx.searchFirst(
        graft.index.HashEmbedder(64).embedOne("gamma delta")).contains("gamma delta"))
    } finally q.stop()
  }

  test("sessionize: sessions close after the inactivity gap with correct aggregates") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.sessionize(in.toDF(), gapMs = 5 * 60 * 1000L, delay = "1 minute")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: events at 10:01, 10:03 (one session); user 2: at 10:02
      in.addData(Ev(ts(1), 1, "click", 1.0), Ev(ts(3), 1, "click", 2.0),
        Ev(ts(2), 2, "view", 5.0))
      q.processAllAvailable()
      // advance event time well past both gaps so the sessions time out
      in.addData(Ev(ts(30), 9, "click", 0.0))
      q.processAllAvailable()
      in.addData(Ev(ts(45), 9, "click", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
      val u1 = rows.find(_.getAs[Long]("user_id") == 1L)
      assert(u1.isDefined, s"user 1 session missing in ${rows.mkString(";")}")
      assert(u1.get.getAs[Int]("n_events") == 2)
      assert(u1.get.getAs[Double]("sum_value") == 3.0)
      assert(u1.get.getAs[Timestamp]("session_start") == ts(1))
      assert(u1.get.getAs[Timestamp]("session_end") == ts(3))
      val u2 = rows.find(_.getAs[Long]("user_id") == 2L)
      assert(u2.isDefined && u2.get.getAs[Int]("n_events") == 1)
    } finally q.stop()
  }

  test("batch sessionize agrees with streaming sessionize on the same events") {
    implicit val sqlCtx = spark.sqlContext
    // user 1: 10:01+10:03 in one session, 10:20 a new one (gap 5 min);
    // user 2: one singleton session
    val evs = Seq(
      Ev(ts(1), 1, "a", 1.0), Ev(ts(3), 1, "a", 2.0), Ev(ts(20), 1, "a", 4.0),
      Ev(ts(2), 2, "b", 5.0))
    val batchDf = evs.zipWithIndex
      .map { case (e, i) => (e.user_id, i.toLong, e.ts, e.value) }
      .toDF("user_id", "event_id", "ts", "value")
    val batch = graft.queries.Queries.sessionizeBatch(batchDf, gapMin = 5)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("session_start"),
        r.getAs[String]("session_end"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value"))).toSet
    val in = MemoryStream[Ev]
    val q = StreamOps.sessionize(in.toDF(), gapMs = 5 * 60 * 1000L, delay = "1 minute")
      .writeStream.format("memory").queryName("sessions_x")
      .outputMode("append").start()
    try {
      in.addData(evs: _*)
      q.processAllAvailable()
      // sentinel user advances the watermark so real sessions close
      in.addData(Ev(ts(50), 9, "w", 0.0))
      q.processAllAvailable()
      in.addData(Ev(Timestamp.valueOf("2026-01-01 11:30:00"), 9, "w", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sessions_x").collect()
        .filter(_.getAs[Long]("user_id") != 9L)
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("session_start").toString.take(19),
          r.getAs[Timestamp]("session_end").toString.take(19),
          r.getAs[Int]("n_events").toLong, r.getAs[Double]("sum_value"))).toSet
      assert(streamed == batch,
        s"batch/stream divergence:\nbatch   =$batch\nstreamed=$streamed")
    } finally q.stop()
  }

  test("sessionize: a late in-watermark event extends the session start backwards") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.sessionize(in.toDF(), gapMs = 5 * 60 * 1000L, delay = "10 minutes")
      .writeStream.format("memory").queryName("sessions_late")
      .outputMode("append").start()
    try {
      in.addData(Ev(ts(5), 1, "c", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts(2), 1, "c", 1.0)) // late, still within the watermark
      q.processAllAvailable()
      in.addData(Ev(ts(59), 9, "c", 0.0))
      q.processAllAvailable()
      in.addData(Ev(Timestamp.valueOf("2026-01-01 11:30:00"), 9, "c", 0.0))
      q.processAllAvailable()
      val u1 = spark.table("sessions_late").collect()
        .find(_.getAs[Long]("user_id") == 1L).get
      assert(u1.getAs[Timestamp]("session_start") == ts(2))
      assert(u1.getAs[Timestamp]("session_end") == ts(5))
      assert(u1.getAs[Int]("n_events") == 2)
    } finally q.stop()
  }

  test("sessionize: an event far older than the watermark cannot crash the query") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.sessionize(in.toDF(), gapMs = 5 * 60 * 1000L, delay = "1 minute")
      .writeStream.format("memory").queryName("sessions_verylate")
      .outputMode("append").start()
    try {
      // push the watermark to ~10:59
      in.addData(Ev(ts(59), 9, "c", 0.0))
      q.processAllAvailable()
      // an event far below watermark - gap: Spark's late-row filter
      // drops it before the operator; the operator additionally clamps
      // (closes instead of setting a timeout in the watermark's past)
      // as defense-in-depth. Either way the query must survive.
      in.addData(Ev(ts(1), 1, "c", 7.0))
      q.processAllAvailable()
      assert(q.isActive, "query must survive an all-late batch")
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      assert(!spark.table("sessions_verylate").collect()
        .exists(_.getAs[Long]("user_id") == 1L),
        "a dropped late row must not fabricate a session")
    } finally q.stop()
  }

  test("streamingSearch: each streamed query gets top-k from the static corpus") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = graft.index.SemanticIndex.fromItems(spark,
      Seq("spark shuffle join", "parquet column scan", "window agg rollup")
        .toDF("item")).records
    val in = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.Map.empty[Long, Array[org.apache.spark.sql.Row]]
    val q = StreamOps.streamingSearch(
      in.toDF().toDF("query_id", "query_text"), corpus, k = 2) { (_, hits) =>
      hits.collect().groupBy(_.getAs[Long]("query_id"))
        .foreach { case (qid, rs) => results(qid) = rs }
    }
    try {
      in.addData((1L, "spark shuffle join"), (2L, "window agg rollup"))
      q.processAllAvailable()
      assert(results(1L).minBy(_.getAs[Int]("rank")).getAs[String]("item")
        == "spark shuffle join")
      assert(results(2L).minBy(_.getAs[Int]("rank")).getAs[String]("item")
        == "window agg rollup")
      assert(results.values.forall(_.length == 2))
    } finally q.stop()
  }

  test("probeStream: streamed vector verdicts equal the batch probe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.registerAll(spark)
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_probestream").toString
    val idx = graft.index.IvfIndex.build(corpus, s"$dir/idx", nLists = 8)
    // incoming: an exact copy of vec 3 and one unrelated vector
    val src = corpus.filter(col("vec_id") === 3L).head().getSeq[Float](1)
    val alien = (0 until 64).map(i => if (i % 2 == 0) 1.0f else -1.0f)
    val incomingRows = Seq((100L, src), (200L, alien))
    val incoming = incomingRows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val expected = idx.probeCosine(incoming, tau = 0.95, nProbe = 4)
      .collect().map(_.toString).toSeq

    val in = MemoryStream[(Long, Seq[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = StreamOps.probeStream(
      in.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
      idx, tau = 0.95, nProbe = 4) { (_, verdicts) =>
      got ++= verdicts.collect().map(_.toString)
    }
    try {
      in.addData(incomingRows.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      assert(got.sorted == expected.sorted,
        s"streamed verdicts must equal the batch probe:\n$got\nvs\n$expected")
      assert(got.exists(_.contains("100,3,1.0,true")), got.mkString("; "))
    } finally q.stop()
  }

  test("editProbeStream: streamed edit-distance verdicts equal the batch " +
      "probe against the same persisted index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    graft.functions.registerAll(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_editstream").toString
    val s1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq((2L, s1),
      (4L, "some completely different corpus document body right here"))
      .toDF("doc_id", "text")
    val idx = graft.index.EditIndex.build(corpus, s"$dir/idx")
    val incomingRows = Seq(
      (1L, s1.replace("alpha", "alxha")), // ed 1 from doc 2's key
      (3L, "unrelated incoming content matching nothing in the corpus"))
    val expected = idx.probe(incomingRows.toDF("doc_id", "text"))
      .collect().map(_.toString).toSeq

    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = StreamOps.editProbeStream(
      in.toDF().toDF("doc_id", "text"), idx) { (_, verdicts) =>
      got ++= verdicts.collect().map(_.toString)
    }
    try {
      in.addData(incomingRows: _*)
      q.processAllAvailable()
      assert(got.sorted == expected.sorted,
        s"streamed verdicts must equal the batch probe:\n$got\nvs\n$expected")
      assert(got.exists(s => s.startsWith("[1,2,1,") || s.contains("[1,2,1,")),
        s"the planted ed-1 near-dup must match doc 2: ${got.mkString("; ")}")
    } finally q.stop()
  }

  test("sessionize: a stray late event beyond the gap becomes its own session") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.sessionize(in.toDF(), gapMs = 5 * 60 * 1000L, delay = "1 hour")
      .writeStream.format("memory").queryName("sessions_stray")
      .outputMode("append").start()
    try {
      in.addData(Ev(ts(20), 1, "c", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts(0), 1, "c", 9.0)) // 20 min before the session, gap is 5 min
      q.processAllAvailable()
      // push event time forward ~2h so everything times out
      in.addData(Ev(Timestamp.valueOf("2026-01-01 12:30:00"), 9, "c", 0.0))
      q.processAllAvailable()
      in.addData(Ev(Timestamp.valueOf("2026-01-01 13:40:00"), 9, "c", 0.0))
      q.processAllAvailable()
      val u1 = spark.table("sessions_stray").collect()
        .filter(_.getAs[Long]("user_id") == 1L)
      assert(u1.length == 2, s"expected two separate sessions, got ${u1.mkString(";")}")
      assert(u1.forall(_.getAs[Int]("n_events") == 1))
    } finally q.stop()
  }

  test("the same transform plans as a plain batch aggregation too") {
    val batch = Seq(Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 2, "click", 2.0)).toDF()
    val out = StreamOps.windowedEventAgg(batch, "10 minutes", "5 minutes").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n_events") == 2)
  }

  test("decontaminateStream flags eval-overlapping docs per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val benchmark = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.decontaminateStream(
        in.toDF().toDF("doc_id", "text"), benchmark, n = 4)
      .writeStream.format("memory").queryName("decon")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, "x alpha beta gamma delta y"), // shares "alpha beta gamma delta"
        (2L, "completely unrelated words here"))
      q.processAllAvailable()
      in.addData((3L, "beta gamma delta epsilon tail")) // second batch
      q.processAllAvailable()
      val got = spark.table("decon").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_contaminated_grams"), r.getAs[Boolean]("contaminated"))).toMap
      assert(got(1L) == (1L, true), got)
      assert(got(2L) == (0L, false))
      assert(got(3L) == (1L, true))
    } finally q.stop()

    // identical semantics to the batch operator on the same frames —
    // including a NULL text row, which both must report as 0/false
    val batch = Seq((1L, "x alpha beta gamma delta y"),
      (2L, "completely unrelated words here"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val fromBatchOp = graft.queries.PipelineQueries
      .decontaminateAgainst(batch, benchmark, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromStreamOp = StreamOps.decontaminateStream(batch, benchmark, 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_contaminated_grams")).toMap
    assert(fromBatchOp == fromStreamOp)
  }

  test("bm25Stream serves streamed queries against the static corpus") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "spark spark shuffle join window"),
      (20L, "parquet column scan pruning"),
      (30L, "window agg rollup pivot")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.Map.empty[Long, Seq[(Long, Double)]]
    val q = StreamOps.bm25Stream(
        in.toDF().toDF("query_id", "query_text"), corpus, k = 2) { (_, hits) =>
      hits.collect().groupBy(_.getAs[Long]("query_id")).foreach { case (qid, rs) =>
        results(qid) = rs.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
      }
    }
    try {
      in.addData((1L, "spark shuffle"), (2L, "window rollup"))
      q.processAllAvailable()
      assert(results(1L).head._1 == 10L, results.toString)
      assert(results(2L).head._1 == 30L, results.toString)
      // streamed scores equal the batch operator's with the same stats
      val batch = graft.queries.TextQueries.bm25(corpus, "spark shuffle", k = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(results(1L) == batch, s"stream ${results(1L)} vs batch $batch")
    } finally q.stop()
  }

  test("streamStreamJoin pairs events within the time window across two streams") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val views = MemoryStream[Ev]
    val q = StreamOps.streamStreamJoin(
        clicks.toDF(), views.toDF(),
        beforeMs = 10 * 60 * 1000L, afterMs = 10 * 60 * 1000L)
      .select($"l_user_id", $"l_ts", $"r_ts", $"r_value")
      .writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(Ev(ts(10), 1, "click", 1.0), Ev(ts(10), 2, "click", 2.0))
      views.addData(
        Ev(ts(5), 1, "view", 50.0),   // within 10 min before user 1's click
        Ev(ts(15), 1, "view", 60.0),  // within 10 min after
        Ev(ts(40), 1, "view", 70.0),  // outside the window
        Ev(ts(6), 3, "view", 80.0))   // different key
      q.processAllAvailable()
      val got = spark.table("ssj").collect()
        .map(r => (r.getAs[Long]("l_user_id"), r.getAs[Double]("r_value"))).toSet
      assert(got == Set((1L, 50.0), (1L, 60.0)), got.toString)

      // the same transform on bounded frames gives the same pairs
      val batchL = Seq(Ev(ts(10), 1, "click", 1.0), Ev(ts(10), 2, "click", 2.0)).toDF()
      val batchR = Seq(Ev(ts(5), 1, "view", 50.0), Ev(ts(15), 1, "view", 60.0),
        Ev(ts(40), 1, "view", 70.0), Ev(ts(6), 3, "view", 80.0)).toDF()
      val batch = StreamOps.streamStreamJoin(batchL, batchR,
          beforeMs = 10 * 60 * 1000L, afterMs = 10 * 60 * 1000L)
        .collect().map(r => (r.getAs[Long]("l_user_id"), r.getAs[Double]("r_value"))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("vocabStream keeps running token counts across micro-batches (Update mode)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.vocabStream(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("vocab_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((1L, "spark spark shuffle"), (2L, "join spark"))
      q.processAllAvailable()
      in.addData((3L, "shuffle  Spark")) // second batch must merge into state
      q.processAllAvailable()
      // memory sink in Update mode appends updated rows; latest row per token wins
      val got = spark.table("vocab_stream").collect()
        .groupBy(_.getAs[String]("token"))
        .map { case (t, rs) => t -> rs.map(_.getAs[Long]("cnt")).max }
      assert(got("spark") == 4L, got)
      assert(got("shuffle") == 2L)
      assert(got("join") == 1L)

      // parity with the batch tokenization: same counts on a bounded frame
      val batch = Seq((1L, "spark spark shuffle"), (2L, "join spark"),
        (3L, "shuffle  Spark")).toDF("doc_id", "text")
      val fromBatch = StreamOps.vocabStream(batch).collect()
        .map(r => r.getAs[String]("token") -> r.getAs[Long]("cnt")).toMap
      assert(fromBatch == got)
    } finally q.stop()
  }

  test("curate drops junk and redacts PII on a stream, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    val good = ("the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the green forest before night falls on town " +
      "while mail to jane@example.org still works fine for everyone today")
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.curate(in.toDF().toDF("doc_id", "text"), minTokens = 10)
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, good),                        // kept; email redacted
        (2L, "too short"),                 // dropped: n_tokens < 10
        (3L, Seq.fill(30)("spam").mkString(" "))) // dropped: ttr + repetition
      q.processAllAvailable()
      val rows = spark.table("curated").collect()
      assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
      val txt = rows.head.getAs[String]("text")
      assert(txt.contains("<EMAIL>") && !txt.contains("jane@example.org"))
    } finally q.stop()

    // identical semantics on a bounded frame (no stream, no state)
    val batch = Seq((1L, good), (2L, "too short")).toDF("doc_id", "text")
    val out = StreamOps.curate(batch, minTokens = 10).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
  }

  test("c4Stream cleans documents at ingest with batch-identical rules") {
    implicit val sqlCtx = spark.sqlContext
    val good = "this line has five good words."
    val doc0 = s"$good\nplease enable javascript to view.\n$good\n$good"
    val doc1 = s"$good\nsome lorem ipsum filler lives here.\n$good\n$good"
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.c4Stream(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("c4ed")
      .outputMode("append").start()
    try {
      in.addData((0L, doc0), (1L, doc1))
      q.processAllAvailable()
      val rows = spark.table("c4ed").collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(rows(0L).getAs[Boolean]("keep") &&
        rows(0L).getAs[String]("kept_text") == s"$good\n$good\n$good",
        "javascript line removed, page kept")
      assert(!rows(1L).getAs[Boolean]("keep"), "lorem ipsum rejects the page")
    } finally q.stop()

    // the stream shares c4Body with the batch operator — same rows out
    val batch = graft.queries.TextQueries.c4Clean(
      Seq((0L, doc0), (1L, doc1)).toDF("doc_id", "text")).collect()
    assert(batch.map(r => (r.getLong(0), r.getBoolean(7))).toSeq ==
      Seq((0L, true), (1L, false)))
  }

  test("classifyStream scores documents at ingest with batch-identical margins") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((0L, "spark table scan filter query engine"),
      (1L, "zzz qqq xxx unusual gibberish tokens"), (2L, ""))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.classifyStream(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("classified")
      .outputMode("append").start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      val stream = spark.table("classified").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
      val batch = graft.queries.TextQueries.classifyBody(
          docs.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
      assert(stream == batch, s"stream $stream vs batch $batch")
      // token-less doc scores exactly the bias
      assert(stream(2L)._1 == 0.05)
    } finally q.stop()
  }

  test("dsirStream gates documents at ingest with batch-identical weights") {
    implicit val sqlCtx = spark.sqlContext
    // static reference corpus with a labeled target slice
    val ref = Seq(
      (100L, "spark table scan filter query engine", "en"),
      (101L, "spark query filter table engine distributed", "en"),
      (102L, "zzz qqq vvv kkk www", "de"),
      (103L, "mmm nnn ooo ppp qqq", "fr"),
      // NULL lang belongs to the raw slice, not a crash
      (104L, "kkk www zzz extra", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    val docs = Seq((0L, "spark table scan filter"), (1L, "zzz qqq vvv"), (2L, ""))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.dsirStream(in.toDF().toDF("doc_id", "text"), ref,
        minLogWeight = 0.0)
      .writeStream.format("memory").queryName("dsir_gated")
      .outputMode("append").start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      val stream = spark.table("dsir_gated").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      // batch replay: same λ (trained on the same reference), same
      // scoring body, same threshold
      val lambda = graft.queries.PipelineQueries.dsirLambda(ref, 64, "en")
      val batch = graft.queries.PipelineQueries
        .dsirScoreBody(docs.toDF("doc_id", "text"), lambda).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .filter(_._2 >= 0.0).toSet
      assert(stream == batch, s"stream $stream vs batch $batch")
      // the target-like doc passes the gate; the off-target doc does not
      assert(stream.exists(_._1 == 0L), "target-like doc must pass")
      assert(!stream.exists(_._1 == 1L), "off-target doc must be gated out")
    } finally q.stop()
  }

  // -------------------------------------------------------------------------
  // Crash recovery (r5 — the r4 verdict's #6): stop mid-stream, restart
  // from the checkpoint, assert exactly-once output equality. The file
  // sink's _spark_metadata commit log plus the state store in the
  // checkpoint are what make the restart exactly-once.
  // -------------------------------------------------------------------------

  test("sessionize recovers open-session state across a checkpoint restart, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt_sess").toString
    def start() = StreamOps.sessionize(in.toDF(), gapMs = 5 * 60 * 1000L,
        delay = "1 minute")
      .writeStream.format("parquet").option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    // phase 1: open sessions for users 1 and 2, then stop BEFORE any
    // session can close — their state exists only in the checkpoint
    val q1 = start()
    try {
      in.addData(Ev(ts(1), 1, "click", 1.0), Ev(ts(3), 1, "click", 2.0),
        Ev(ts(2), 2, "view", 5.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // phase 2: restart from the checkpoint and advance event time past
    // the gaps — the sessions must close with their PRE-crash aggregates
    val q2 = start()
    try {
      in.addData(Ev(ts(30), 9, "click", 0.0))
      q2.processAllAvailable()
      in.addData(Ev(ts(45), 9, "click", 0.0))
      q2.processAllAvailable()
    } finally q2.stop()
    // phase 3: one more restart with no new data — nothing may re-emit
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    val rows = spark.read.parquet(s"$base/out").collect()
    assert(rows.length == rows.map(_.toString).distinct.length, "duplicate emissions")
    val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
    assert(u1.length == 1, s"user 1 emitted ${u1.length} times")
    assert(u1.head.getAs[Int]("n_events") == 2 &&
      u1.head.getAs[Double]("sum_value") == 3.0 &&
      u1.head.getAs[Timestamp]("session_start") == ts(1) &&
      u1.head.getAs[Timestamp]("session_end") == ts(3),
      s"recovered session lost pre-crash state: ${u1.head}")
    val u2 = rows.filter(_.getAs[Long]("user_id") == 2L)
    assert(u2.length == 1 && u2.head.getAs[Int]("n_events") == 1)
  }

  test("stream-stream join matches a pre-crash left row after restart, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val l = MemoryStream[Ev]
    val r = MemoryStream[Ev]
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt_ssj").toString
    def start() = StreamOps.streamStreamJoin(l.toDF(), r.toDF(),
        beforeMs = 5 * 60 * 1000L, afterMs = 5 * 60 * 1000L, delay = "1 minute")
      .writeStream.format("parquet").option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    // phase 1: the left row arrives alone — it is BUFFERED join state
    val q1 = start()
    try {
      l.addData(Ev(ts(1), 1, "left", 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // phase 2: restart; the matching right row arrives — the pair can
    // only be emitted if the buffered left row survived the restart
    val q2 = start()
    try {
      r.addData(Ev(ts(2), 1, "right", 2.0))
      q2.processAllAvailable()
      // advance both watermarks so state is evicted cleanly
      l.addData(Ev(ts(40), 9, "wm", 0.0))
      r.addData(Ev(ts(41), 9, "wm", 0.0))
      q2.processAllAvailable()
    } finally q2.stop()
    // phase 3: idle restart — no re-emission
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    val rows = spark.read.parquet(s"$base/out").collect()
    assert(rows.length == rows.map(_.toString).distinct.length, "duplicate emissions")
    val pair = rows.filter(x => x.getAs[Long]("l_user_id") == 1L)
    assert(pair.length == 1, s"expected exactly one recovered match, got ${pair.length}")
    assert(pair.head.getAs[String]("l_event_type") == "left" &&
      pair.head.getAs[String]("r_event_type") == "right")
  }

  test("hhStream: bounded MG state across micro-batches preserves the hot-key guarantee") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val capacity = 8
    val q = StreamOps.hhStream(in.toDF().toDF("doc_id", "text"), capacity)
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      // batch 1: "hot pair" dominates; batch 2 adds a long cold tail
      // of distinct bigrams plus more hot mass — cardinality >> capacity
      in.addData((1L, ("hot pair " * 30).trim), (2L, "hot pair hot pair"))
      q.processAllAvailable()
      in.addData((3L, (1 to 60).map(i => s"cold$i").mkString(" ")),
        (4L, ("hot pair " * 20).trim))
      q.processAllAvailable()

      val row = spark.table("hh_stream").collect().last
      val cands = row.getSeq[String](row.fieldIndex("cands"))
      val n = row.getLong(row.fieldIndex("n"))
      assert(cands.size <= capacity, s"state exceeded capacity: ${cands.size}")
      // "hot pair" count far exceeds n/(capacity+1) -> MUST be present
      assert(cands.contains("hot pair"), s"guaranteed hot key dropped: $cands (n=$n)")
      // running total covers ALL bigrams seen, both batches
      assert(n > 100, s"running total should span batches: $n")
    } finally q.stop()
  }

  test("attributionStream: cross-batch credits match the batch windows; " +
      "state is two strings per user") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long, Long, Double)]
    val q = StreamOps.attributionStream(
        in.toDF().toDF("user_id", "event_type", "ts_us", "event_id", "value"))
      .writeStream.format("memory").queryName("attr_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1 view -> click; user 2 bare purchase
      in.addData((1L, "view", 10L, 1L, 0.0), (1L, "click", 20L, 2L, 0.0),
        (2L, "purchase", 15L, 3L, 2.25))
      q.processAllAvailable()
      // batch 2: user 1 purchases — first=view (batch 1), last=click (batch 1)
      in.addData((1L, "purchase", 30L, 4L, 10.5))
      q.processAllAvailable()
      val got = spark.table("attr_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
        .toSet
      assert(got == Set(
        (2L, "purchase", "purchase", 2.25),
        (1L, "view", "click", 10.5)), s"credits: $got")
    } finally q.stop()
  }

  test("anomalyStream: ring-bounded state scores the spike exactly like the batch form") {
    implicit val sqlCtx = spark.sqlContext
    // the AnomalyMarkovSpec corpus shape: 25 calm hours then a spike
    val calm = (0 until 25).map(h => (1L, h.toLong, 10.0 + (h % 3) * 0.5))
    val spike = Seq((1L, 25L, 1000.0))
    val in = MemoryStream[(Long, Long, Double)]
    val q = StreamOps.anomalyStream(in.toDF().toDF("series", "h", "v"))
      .writeStream.format("memory").queryName("anomaly_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(calm.take(20): _*)
      q.processAllAvailable()
      in.addData(calm.drop(20) ++ spike: _*)
      q.processAllAvailable()
      val got = spark.table("anomaly_stream").collect()
        .map(r => r.getLong(1) -> (r.getBoolean(3), r.getBoolean(4))).toMap
      assert(got.size == 26)
      (0 until 24).foreach { h =>
        assert(got(h.toLong) == ((false, false)), s"hour $h should be unscored")
      }
      assert(got(24L) == ((true, false)), "hour 24: scored, calm")
      assert(got(25L) == ((true, true)), "hour 25: the spike must flag")

      // batch parity on the same series via the shared scorer
      val vs = calm.map(_._3)
      val (med, iqr) = graft.streaming.AnomalyScore.score(vs.take(24))
      assert((math.abs(10.0 + (24 % 3) * 0.5 - med) > 1.5 * iqr) == false)
      val (med25, iqr25) = graft.streaming.AnomalyScore.score(vs.drop(1).take(24))
      assert(math.abs(1000.0 - med25) > 1.5 * iqr25)
    } finally q.stop()
  }
test("markovStream: cross-batch transitions match the batch lag-window " +
      "multiset; state is one LastEvent per user") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long, Long)]
    val q = StreamOps.markovStream(
        in.toDF().toDF("user_id", "event_type", "ts_us", "event_id"))
      .writeStream.format("memory").queryName("markov_stream")
      .outputMode(OutputMode.Append()).start()
    val b1 = Seq((1L, "view", 10L, 1L), (1L, "click", 20L, 2L),
      (2L, "view", 15L, 3L))
    // batch 2 continues user 1 (cross-batch transition) and user 2
    val b2 = Seq((1L, "purchase", 30L, 4L), (2L, "view", 25L, 5L),
      (2L, "click", 35L, 6L))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("markov_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      // batch twin: lag over (ts, event_id) per user on the union
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, lag}
      val all = (b1 ++ b2).toDF("user_id", "event_type", "ts_us", "event_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val want = all.withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("user_id"), col("prev"), col("event_type")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got == want, s"stream $got vs batch $want")
      // the cross-batch pair specifically
      assert(got.contains((1L, "click", "purchase")),
        "the batch-spanning transition must be emitted")
    } finally q.stop()
  }
test("hotPathsStream: cross-batch 3-gram paths match the batch double-lag " +
      "twin; MG counting over the emitted stream finds the hot path") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long, Long)]
    val q = StreamOps.hotPathsStream(
        in.toDF().toDF("user_id", "event_type", "ts_us", "event_id"))
      .writeStream.format("memory").queryName("hotpaths_stream")
      .outputMode(OutputMode.Append()).start()
    // user 1's hot view>click>buy pattern split ACROSS batches
    val b1 = Seq((1L, "view", 10L, 1L), (1L, "click", 20L, 2L),
      (2L, "view", 5L, 3L))
    val b2 = Seq((1L, "buy", 30L, 4L), (1L, "view", 40L, 5L),
      (1L, "click", 50L, 6L), (1L, "buy", 60L, 7L), (2L, "click", 45L, 8L))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("hotpaths_stream").collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, concat, lag, lit}
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val want = (b1 ++ b2).toDF("user_id", "event_type", "ts_us", "event_id")
        .withColumn("p1", lag(col("event_type"), 2).over(w))
        .withColumn("p2", lag(col("event_type"), 1).over(w))
        .filter(col("p1").isNotNull)
        .select(col("user_id"),
          concat(col("p1"), lit(">"), col("p2"), lit(">"), col("event_type")))
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got == want, s"stream $got vs batch $want")
      assert(got.contains((1L, "view>click>buy")),
        "the batch-spanning path must be emitted")
      // MG over the emitted paths (shared aggregate) surfaces the hot path
      val cands = spark.table("hotpaths_stream")
        .agg(graft.functions.freq_candidates(col("path"), 4).as("c"))
        .head().getSeq[String](0)
      assert(cands.contains("view>click>buy"))
    } finally q.stop()
  }
test("kmvDistinctStream: bounded sketch state across micro-batches equals " +
      "the batch sketch bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, greatest, least, lit, xxhash64, size => asize}
    val in = MemoryStream[(String, Long)]
    val q = StreamOps.kmvDistinctStream(
        in.toDF().toDF("event_type", "user_id"), k = 16)
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode(OutputMode.Complete()).start()
    val b1 = (0L until 40L).map(u => ("view", u))
    val b2 = (20L until 90L).map(u => ("view", u)) // overlap + new users
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val row = spark.table("kmv_stream").collect().head
      val streamed = row.getSeq[Double](row.fieldIndex("sk"))
      assert(streamed.size <= 16, "state exceeded k")
      assert(row.getLong(row.fieldIndex("n_rows")) == 110L)
      // batch twin over the union must produce the IDENTICAL sketch
      import spark.implicits._
      val u = greatest(least(
        xxhash64(col("user_id").cast("string")).cast("double")
          / lit(18446744073709551616.0) + lit(0.5),
        lit(0.9999999999999999)), lit(5.421010862427522e-20))
      val batch = (b1 ++ b2).toDF("event_type", "user_id")
        .select(u.as("u"))
        .agg(graft.functions.kmv_bottomk(col("u"), 16).as("sk"))
        .head().getSeq[Double](0)
      assert(streamed == batch, "streamed sketch must equal the batch sketch")
    } finally q.stop()
  }

  test("experimentStream: running per-arm moments across micro-batches " +
      "equal a batch recompute over everything seen") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val q = StreamOps.experimentStream(
        in.toDF().toDF("user_id", "value"))
      .writeStream.format("memory").queryName("exp_stream")
      .outputMode(OutputMode.Complete()).start()
    val b1 = (1L to 30L).map(u => (u, u * 0.5))
    val b2 = (31L to 80L).map(u => (u, u * 0.25))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("exp_stream").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getDecimal(2), r.getDecimal(3))).toMap
      assert(got.keySet == Set("a", "b"))
      assert(got("a")._1 + got("b")._1 == 80L, "every event counted")
      import spark.implicits._
      val batch = StreamOps.experimentStream(
          (b1 ++ b2).toDF("user_id", "value")).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getDecimal(2), r.getDecimal(3))).toMap
      assert(got == batch,
        s"streamed moments must equal batch: $got vs $batch")
    } finally q.stop()
  }

  test("funnelStream: cross-batch stage advances equal the batch funnel, " +
      "and same-instant events don't chain") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long, Long)]
    val q = StreamOps.funnelStream(
        in.toDF().toDF("user_id", "event_type", "ts_us", "event_id"))
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode(OutputMode.Append()).start()
    // u1: view in batch 1, click+purchase in batch 2 (cross-batch chain)
    // u2: view and click at the SAME instant -> click must not count
    // u3: click with no view -> nothing
    val b1 = Seq((1L, "view", 10000000L, 1L), (2L, "view", 50000000L, 2L),
      (2L, "click", 50000000L, 3L), (3L, "click", 5000000L, 4L))
    val b2 = Seq((1L, "click", 20000000L, 5L), (1L, "purchase", 30000000L, 6L),
      (2L, "click", 60000000L, 7L))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("funnel_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      assert(got.count(_ == ((1L, 2))) == 1 && got.count(_ == ((1L, 3))) == 1,
        s"u1 chains across the batch boundary: ${got.toSeq}")
      assert(!got.contains((3L, 1)) && !got.contains((3L, 2)),
        s"u3 never advances: ${got.toSeq}")
      // batch twin: per-step user counts over the union must agree
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_fstream").toString
      (b1 ++ b2).map { case (u, tpe, us, eid) =>
        (eid, new java.sql.Timestamp(us / 1000L), u, tpe, 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.parquet(s"$dir/events.parquet")
      val want = graft.queries.RelationalQueries.qFunnel(spark, dir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val streamed = Map(
        "1_view" -> got.count(_._2 == 1).toLong,
        "2_click" -> got.count(_._2 == 2).toLong,
        "3_purchase" -> got.count(_._2 == 3).toLong)
      assert(streamed == want,
        s"streamed step counts must equal the batch funnel: $streamed vs $want")
    } finally q.stop()
  }

  test("latenessStream: per-event minute gaps vs the user's running max, " +
      "including gaps that span micro-batches, equal the batch histogram") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val q = StreamOps.latenessStream(
        in.toDF().toDF("user_id", "event_id", "ts_us"))
      .writeStream.format("memory").queryName("late_stream")
      .outputMode(OutputMode.Append()).start()
    // batch 1 establishes u1's max at 600s; batch 2's first event is
    // 150s older than that max — the cross-batch case a window misses
    val b1 = Seq((1L, 1L, 0L), (1L, 2L, 600000000L), (2L, 1L, 0L))
    val b2 = Seq((1L, 3L, 450000000L), (2L, 2L, 60000000L))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("late_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got((1L, 3L)) == 2L, s"150s late -> bucket 2 (cross-batch): $got")
      assert(got.count(_._2 == 0L) == 4, s"all others in order: $got")
      // batch twin over the union: same multiset of (event, bucket)
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_lstream").toString
      (b1 ++ b2).map { case (u, e, us) =>
        (e, new java.sql.Timestamp(us / 1000L), u, "view", 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.parquet(s"$dir/events.parquet")
      val batch = graft.queries.RelationalQueries.qLateness(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val streamedHist = got.values.groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      assert(streamedHist == batch,
        s"streamed bucket multiset must equal the batch histogram: " +
          s"$streamedHist vs $batch")
    } finally q.stop()
  }

  test("sampleStream: per-stratum bottom-k sample across micro-batches equals " +
      "the batch bottom-k over everything seen (no RNG, k-bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val in = MemoryStream[(String, Long)]
    val q = StreamOps.sampleStream(
        in.toDF().toDF("lang", "doc_id"), k = 5)
      .writeStream.format("memory").queryName("sample_stream")
      .outputMode(OutputMode.Complete()).start()
    val b1 = (0L until 30L).map(d => (if (d % 3 == 0) "en" else "zh", d))
    val b2 = (30L until 80L).map(d => (if (d % 3 == 0) "en" else "zh", d))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("sample_stream").collect()
        .map(r => r.getString(0) ->
          (r.getSeq[Row](1).map(_.getLong(1)), r.getLong(2))).toMap
      assert(got("en")._1.size == 5 && got("zh")._1.size == 5,
        "state bounded at k per stratum")
      assert(got("en")._2 + got("zh")._2 == 80L, "n_seen counts every row")
      // batch twin over the union must pick the IDENTICAL doc ids in order
      import spark.implicits._
      val batch = StreamOps.sampleStream(
          (b1 ++ b2).toDF("lang", "doc_id"), k = 5)
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Row](1).map(_.getLong(1))).toMap
      assert(got("en")._1 == batch("en") && got("zh")._1 == batch("zh"),
        s"streamed sample must equal the batch sample: $got vs $batch")
    } finally q.stop()
  }

  test("psiStream: one-row bounded state replays the batch PSI exactly " +
      "against the frozen baseline fit") {
    import spark.implicits._
    // batch fit: prices 1..10 on the base (median) day, 11..20 current
    val dir = java.nio.file.Files.createTempDirectory("graft_psis").toString
    (1 to 20).map { i =>
      (i.toLong, i.toLong % 3, "F", i.toDouble,
        new Timestamp((if (i <= 10) 1L else 100L) * 86400000L), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    val batch = graft.queries.RelationalQueries.qPsi(spark, dir).collect()
      .sortBy(_.getInt(0))
    val psiBatch = batch.map(_.getDouble(3)).sum
    val tb = batch.map(_.getLong(1)).sum
    val shares = batch.map(_.getLong(1).toDouble / tb).toSeq
    assert(tb == 10 && shares.length == 20)

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Double]
    val q = StreamOps.psiStream(
        in.toDF().withColumnRenamed("value", "v"), lo = 1.0, hi = 20.0,
        baseShares = shares)
      .writeStream.format("memory").queryName("psi_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData((11 to 15).map(_.toDouble): _*); q.processAllAvailable()
      in.addData((16 to 20).map(_.toDouble): _*); q.processAllAvailable()
      val r = spark.table("psi_stream").collect().last
      assert(r.getAs[Long]("n_cur") == 10L, s"$r")
      assert(r.getAs[Double]("psi") == psiBatch,
        s"stream PSI ${r.getAs[Double]("psi")} != batch $psiBatch")
      assert(r.getAs[Seq[Long]]("bin_counts").sum == 10L, s"$r")
    } finally q.stop()
  }
}