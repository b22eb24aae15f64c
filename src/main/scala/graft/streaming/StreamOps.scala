package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One user-session: closed when no event arrives for the gap duration. */
final case class UserSession(
    user_id: Long, session_start: Timestamp, session_end: Timestamp,
    n_events: Int, sum_value: Double)

/** Mutable per-key session state carried between micro-batches. */
final case class SessionState(
    start: Long, last: Long, n: Int, sum: Double)

/**
 * Structured-Streaming operators (SURVEY.md §2.7): the reference's async
 * add-stream (`AddRangeAsync(IAsyncEnumerable)`, SemanticDatabase.cs:204)
 * re-expressed as unbounded incremental queries. The same transforms
 * plan as batch on a bounded DataFrame and as incremental state-store
 * operators under `readStream` — write once, run both ways.
 */
object StreamOps {

  /**
   * Tumbling-window event aggregation with a watermark: counts + value
   * sums per (window, event_type). Late data beyond `delay` is dropped
   * and window state is evicted — bounded memory at any scale.
   */
  def windowedEventAgg(events: DataFrame, window: String = "1 hour",
      delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /**
   * Streaming dedup-by-key within a watermark: the index's Skip
   * duplicate-handling as an incremental operator. State for keys older
   * than the watermark is evicted, so the operator runs forever.
   */
  def dedupByKey(events: DataFrame, keyCols: Seq[String],
      delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /**
   * Session windows with custom state (`flatMapGroupsWithState`): events
   * grouped per user; a session closes after `gapMs` of inactivity
   * (event-time, driven by the watermark) and is emitted exactly once.
   * State per key is four numbers — bounded regardless of stream
   * length — and is dropped on timeout, so the operator runs forever at
   * any key cardinality the state store can hold (sizing: ~48 B × the
   * number of users active within one gap+delay window; it lives in
   * the checkpoint, so open sessions survive a crash/restart — proved
   * by the crash-recovery spec).
   */
  def sessionize(events: DataFrame, gapMs: Long = 30 * 60 * 1000L,
      delay: String = "10 minutes"): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .selectExpr("user_id", "ts", "value")
      .as[(Long, Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (user: Long, events: Iterator[(Long, Timestamp, Double)],
            state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // inactivity gap elapsed: close and emit the session
            val s = state.get
            state.remove()
            Iterator.single(UserSession(user, new Timestamp(s.start),
              new Timestamp(s.last), s.n, s.sum))
          } else {
            val closed = scala.collection.mutable.ArrayBuffer.empty[UserSession]
            // sessions are contiguous in event time: fold sorted events,
            // splitting whenever the gap exceeds gapMs
            var s = state.getOption.orNull
            events.toSeq.sortBy(_._2.getTime).foreach { case (_, ts, v) =>
              val t = ts.getTime
              if (s == null) s = SessionState(t, t, 1, v)
              else if (t - s.last > gapMs) {
                closed += UserSession(user, new Timestamp(s.start),
                  new Timestamp(s.last), s.n, s.sum)
                s = SessionState(t, t, 1, v)
              } else if (s.start - t > gapMs) {
                // stray late event separated from the current session by
                // more than the gap: it is its own (already-ended)
                // session — merging would violate the gap invariant
                closed += UserSession(user, new Timestamp(t), new Timestamp(t), 1, v)
              } else {
                // late (in-watermark) event within the gap of the current
                // session — extend both boundaries
                s = SessionState(math.min(s.start, t), math.max(s.last, t),
                  s.n + 1, s.sum + v)
              }
            }
            if (s != null) {
              // flatMapGroupsWithState does NOT drop late rows itself:
              // an all-late batch can leave s.last + gapMs at or below
              // the current watermark, and Spark rejects a timeout in
              // the watermark's past (IllegalArgumentException, query
              // death). Such a session's gap has already elapsed in
              // event time — close and emit it now instead.
              val wm = state.getCurrentWatermarkMs()
              if (s.last + gapMs <= wm) {
                closed += UserSession(user, new Timestamp(s.start),
                  new Timestamp(s.last), s.n, s.sum)
                if (state.exists) state.remove()
              } else {
                state.update(s)
                state.setTimeoutTimestamp(s.last + gapMs)
              }
            }
            closed.iterator
          }
        })
  }

  /**
   * Streaming similarity search — the serving pattern: a stream of
   * text queries is embedded per micro-batch and joined against a
   * STATIC corpus (broadcast batch side × corpus scan, per-query top-k
   * window). `foreachBatch` is the idiomatic bridge: each batch is a
   * bounded DataFrame, so the full relational toolkit (windows, limits)
   * applies, while the query stream stays unbounded.
   *
   * @param queries streaming DataFrame with (`query_id`, `query_text`)
   * @param corpus  static records: (`item`, `embedding array<float>`)
   * @param onBatch called with (batchId, results) per micro-batch;
   *                results: query_id, item, score, rank
   */
  def streamingSearch(queries: DataFrame, corpus: DataFrame, k: Int = 5,
      dim: Int = 64)(
      onBatch: (Long, DataFrame) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    graft.functions.registerAll(queries.sparkSession)
    queries.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val embedded = batch
          .select(col("query_id"),
            graft.functions.hash_embed(col("query_text"), dim).as("qvec"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("item"))
        val hits = corpus
          .crossJoin(broadcast(embedded))
          .select(col("query_id"), col("item"),
            round(graft.functions.vec_dot(col("embedding"), col("qvec")), 4).as("score"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
        onBatch(batchId, hits)
        ()
      }
      .outputMode(OutputMode.Update())
      .start()
  }

  /**
   * Streaming incremental vector-dedup serving — the unbounded form of
   * [[graft.index.IvfIndex.probeCosine]]: each micro-batch of incoming
   * `(vec_id, embedding)` rows probes the PERSISTED IVF index and gets
   * near-dup verdicts against the indexed corpus, before the batch
   * lands anywhere. This is the daily-ingest probe running continuously
   * instead of on a schedule: per batch, only the batch's probed
   * partitions are read (the literal isin prune inside probeCosine),
   * the corpus never self-joins, and no streaming state accumulates —
   * the index IS the state, managed by its own build/append/compact
   * lifecycle.
   *
   * @param vectors streaming DataFrame with (`vec_id`, `embedding`)
   * @param index   the persisted corpus index
   * @param onBatch called with (batchId, verdicts) per micro-batch;
   *                verdicts: vec_id, match_id, cosine, is_dup
   */
  def probeStream(vectors: DataFrame, index: graft.index.IvfIndex,
      tau: Double = 0.95, nProbe: Int = 4)(
      onBatch: (Long, DataFrame) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    graft.functions.registerAll(vectors.sparkSession)
    vectors.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        onBatch(batchId, index.probeCosine(batch.toDF(), tau, nProbe))
        ()
      }
      .outputMode(OutputMode.Update())
      .start()
  }

  /**
   * Streaming edit-distance dedup serving (r11 — the r10 verdict's
   * #7): the unbounded form of [[graft.index.EditIndex.probe]], and
   * the LAST incremental modality to gain a streamed shape (exact /
   * near / vector / media probes all had one). Each micro-batch of
   * incoming documents probes the PERSISTED collapsed-key corpus
   * artifact for its best corpus match at ed ≤ k — typo/OCR near-dups
   * caught BEFORE the batch lands anywhere. No streaming state
   * accumulates: the index IS the state, managed by its own
   * build/append/compact/vacuum lifecycle, and per batch the work is
   * O(batch) probe substrings + one linear map over the skinny key
   * column ([[graft.queries.DedupQueries.editProbeCore]]) — the exact
   * cost profile of the scheduled batch probe, run continuously.
   *
   * @param docs    streaming DataFrame with (`doc_id`, `text`)
   * @param index   the persisted collapsed-key corpus artifact
   * @param onBatch called with (batchId, verdicts) per micro-batch;
   *                verdicts: doc_id, match_id, dist, keep
   */
  def editProbeStream(docs: DataFrame, index: graft.index.EditIndex,
      checkpoint: Option[String] = None)(
      onBatch: (Long, DataFrame) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    graft.functions.registerAll(docs.sparkSession)
    val w = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        onBatch(batchId, index.probe(batch.toDF()))
        ()
      }
      .outputMode(OutputMode.Update())
    checkpoint.fold(w)(cp => w.option("checkpointLocation", cp)).start()
  }

  /**
   * Streaming corpus curation — the batch `text_profile` + `text_pii`
   * column math applied at INGEST time to an unbounded document stream:
   * junk (too short, low lexical diversity, repetition-dominated) is
   * dropped and PII is redacted BEFORE the data lands in the lake.
   * Every signal is a stateless per-row projection (native `tok_stats` /
   * `top_gram` kernels + regex), so the operator needs no watermark and
   * no state store — it runs at scan speed on a stream exactly as it
   * does on a bounded frame, and the thresholds match
   * [[graft.queries.TextQueries.textProfile]]'s keep rule.
   */
  def curate(docs: DataFrame,
      minTokens: Int = graft.queries.TextQueries.KeepMinTokens,
      minTtr: Double = graft.queries.TextQueries.KeepMinTtr,
      maxTopTokFrac: Double = graft.queries.TextQueries.KeepMaxTopTokFrac): DataFrame = {
    graft.functions.registerAll(docs.sparkSession)
    // signal definitions are shared with the batch profile — see
    // TextQueries.qualitySignals — so batch and stream cannot drift
    val (nTokens, ttr, topFrac) =
      graft.queries.TextQueries.qualitySignals(col("text"))
    docs
      .withColumn("n_tokens", nTokens)
      .withColumn("ttr", coalesce(ttr, lit(0.0)))
      .withColumn("top_tok_frac", topFrac)
      .filter(col("n_tokens") >= minTokens && col("ttr") >= minTtr &&
        col("top_tok_frac") <= maxTopTokFrac)
      .withColumn("text", graft.queries.PipelineQueries.redact(col("text")))
  }

  /**
   * Streaming C4 cleaning — the [[graft.queries.TextQueries.c4Clean]]
   * transform applied at ingest: line-level removal + page-level
   * signals with the cleaned `kept_text` rebuilt, all from the ONE
   * native `c4_stats` kernel. The batch and stream paths share the
   * same sort-free body ([[graft.queries.TextQueries.c4Body]]), so
   * their rule sets cannot drift; stateless per-row math means no
   * watermark and no state store — it cleans at scan speed before the
   * data lands.
   */
  def c4Stream(docs: DataFrame): DataFrame = {
    graft.functions.registerAll(docs.sparkSession)
    graft.queries.TextQueries.c4Body(docs)
  }

  /**
   * Streaming classifier-margin quality gate — the model-based filter
   * ([[graft.queries.TextQueries.textClassify]]) applied AT INGEST:
   * one shared scoring body (the c4Stream discipline), so the batch
   * and streaming decisions cannot drift. Stateless per-row inference
   * (hash-embed + dot against plan-literal weights): no watermark, no
   * state store, scores at scan speed before the data lands.
   */
  def classifyStream(docs: DataFrame): DataFrame = {
    graft.functions.registerAll(docs.sparkSession)
    graft.queries.TextQueries.classifyBody(docs)
  }

  /**
   * Streaming DSIR gate — the ingest form of
   * [[graft.queries.PipelineQueries.qDsir]]: λ trains ONCE at
   * plan-construction time on a STATIC reference corpus (the batch
   * operator's one-scan LM estimation), then every streamed document
   * is scored map-side with the frozen plan-literal weights and gated
   * by `minLogWeight`. A global Gumbel top-n needs the whole corpus
   * and is batch-shaped by nature; the streaming-correct form is the
   * threshold gate (the paper's weights ARE per-example, so the gate
   * is a pure per-row function — no shuffle, no watermark, no state
   * store; scan-speed at ingest). The emitted `gumbel_key` column
   * still carries the deterministic per-doc sampling key, so a
   * downstream batch job can re-cut an exact top-n over any window of
   * the gated output without rescoring.
   *
   * Gate contract: the threshold compares against the REPORTED
   * `log_weight` — the 4-decimal-rounded value the row carries — so a
   * kept row always visibly clears the threshold (no hidden unrounded
   * state deciding differently from what the consumer can see).
   * Documents within 5·10⁻⁵ of the threshold gate on the rounded
   * value.
   */
  def dsirStream(docs: DataFrame, reference: DataFrame,
      minLogWeight: Double, dim: Int = 64,
      targetLang: String = "en"): DataFrame = {
    graft.functions.registerAll(docs.sparkSession)
    val lambda = graft.queries.PipelineQueries.dsirLambda(reference, dim, targetLang)
    graft.queries.PipelineQueries.dsirScoreBody(docs, lambda, dim)
      .filter(col("log_weight") >= minLogWeight)
  }

  /**
   * Streaming benchmark decontamination — the streaming form of
   * [[graft.queries.PipelineQueries.decontaminateAgainst]]: every
   * streamed document is annotated with
   * `(n_contaminated_grams, contaminated)` against a STATIC benchmark
   * frame. The benchmark gram set is small by nature (eval sets are
   * thousands of docs), so it is collected ONCE at plan-construction
   * time into a literal array; the overlap count is then a pure
   * per-row `array_intersect` — no join, no explode, no watermark, no
   * state store. A streaming explode+groupBy would be a STATEFUL
   * aggregation; the per-doc count is a pure function of the doc's own
   * gram set, so it needn't be. Note the plan-time snapshot: if the
   * benchmark table changes, rebuild the query to pick it up; for
   * benchmark sets too big to inline as a literal, use the batch
   * operator's broadcast join.
   */
  def decontaminateStream(docs: DataFrame, benchmark: DataFrame,
      n: Int = 4): DataFrame = {
    graft.functions.registerAll(docs.sparkSession)
    val evalGrams = benchmark
      .select(explode(graft.functions.word_ngrams(col("text"), n)).as("gram"))
      .distinct()
    // coalesce: word_ngrams of a NULL text is null, and the batch
    // operator reports 0/false for such rows — keep the two identical
    val hits = coalesce(
      size(array_intersect(
        graft.functions.word_ngrams(col("text"), n),
        graft.queries.PipelineQueries.broadcastGrams(evalGrams))),
      lit(0))
    docs
      .withColumn("n_contaminated_grams", hits.cast("long"))
      .withColumn("contaminated", hits > 0)
  }

  /**
   * Streaming BM25 serving — the lexical twin of [[streamingSearch]]:
   * each micro-batch of `(query_id, query_text)` rows gets its BM25
   * top-k from the static corpus via `foreachBatch`. Corpus statistics
   * (N, avgdl) are computed ONCE at stream start and passed into every
   * batch's scoring, so the per-batch work is only the map-side
   * term-filtered hit pipeline. Queries are driver-iterated per batch —
   * this is the low-latency SERVING pattern (a handful of queries per
   * trigger), not bulk scoring (use [[graft.queries.TextQueries.bm25]]
   * on a bounded frame for that).
   */
  def bm25Stream(queries: DataFrame, corpus: DataFrame, k: Int = 10)(
      onBatch: (Long, DataFrame) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.queries.TextQueries
    val statsRow = corpus
      .select(count(lit(1)),
        avg(size(filter(split(lower(trim(col("text"))), "\\s+"),
          t => length(t) > 0))))
      .head()
    val n = statsRow.getLong(0)
    // fail fast on an empty corpus: avg() is null there, and a silent
    // 0.0 avgdl would propagate NaN/Infinity BM25 scores to every batch
    require(n > 0, "bm25Stream: corpus is empty — no stats to serve against")
    val stats = Some((n, statsRow.getDouble(1)))
    queries.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // query_id via an explicit long cast: integer-typed ids would
        // ClassCastException out of getLong on the raw row
        val qs = batch.select(col("query_id").cast("long"), col("query_text")).collect()
        val scored = qs.map { q =>
          TextQueries.bm25(corpus, q.getString(1), k = k, stats = stats)
            .select(lit(q.getLong(0)).as("query_id"), col("doc_id"), col("score"))
        }
        if (scored.nonEmpty) onBatch(batchId, scored.reduce(_ unionByName _))
        ()
      }
      .outputMode(OutputMode.Update())
      .start()
  }

  /**
   * Watermark-bounded stream-stream INNER join: each left event pairs
   * with the right events of the same key whose time falls in
   * [l.ts − before, l.ts + after]. Both sides carry watermarks and the
   * join predicate carries the time range — that pair is what lets
   * Spark EVICT join state: each side's store only holds rows the other
   * side's watermark could still match, so the join runs forever on
   * unbounded inputs (the stateful analogue of the batch
   * `qIntervalJoin`). Output columns are prefixed `l_` / `r_`.
   *
   * State-store sizing: each side buffers only rows younger than
   * (watermark delay + its match range), so per-executor state ≈
   * ingest rate × (delay + before/after) × row width — e.g. 10⁵ rows/s
   * × 20 min × 100 B ≈ 12 GB across the cluster, split by the key's
   * hash partitioning. All of it lives in the checkpoint, so a
   * restarted query resumes with the same buffered rows (proved by the
   * crash-recovery spec); RocksDB state store is the right backend
   * once per-executor state outgrows heap.
   */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      key: String = "user_id", tsCol: String = "ts",
      beforeMs: Long = 600000L, afterMs: Long = 600000L,
      delay: String = "10 minutes"): DataFrame = {
    def side(df: DataFrame, p: String) =
      df.select(df.columns.map(c => col(c).as(s"$p$c")).toSeq: _*)
        .withWatermark(s"$p$tsCol", delay)
    side(left, "l_").join(side(right, "r_"),
      col(s"l_$key") === col(s"r_$key") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") - expr(s"INTERVAL $beforeMs MILLISECOND") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $afterMs MILLISECOND"))
  }

  /**
   * Streaming vocabulary maintenance — the streaming twin of
   * [[graft.queries.TextQueries.textVocab]]: running token counts over
   * an unbounded document stream, incrementally updated per
   * micro-batch (Update mode). The state store holds one row per
   * DISTINCT token — vocab-sized, not corpus-sized, the same reason
   * the batch shuffle is cheap — so the aggregation runs forever on
   * Zipfian text. Top-N cutting belongs to the reader (sort the tiny
   * state snapshot); a global running top-N inside the stream would
   * force a single-partition sort every batch.
   */
  def vocabStream(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))

  /**
   * The reference's async bulk-add (`AddRangeAsync(IAsyncEnumerable)`,
   * SemanticDatabase.cs:204) as an unbounded query: a stream of items
   * is embedded with the codegen'd kernel and appended to the
   * parquet-backed index. Each micro-batch is a distributed map —
   * embedding throughput scales with executors, and the sink's
   * exactly-once file commit makes the index consistent under retries.
   * Returns the StreamingQuery handle (caller stops it).
   */
  def streamingIndexAdd(items: DataFrame, itemCol: String, indexPath: String,
      checkpoint: String, dim: Int = 64): org.apache.spark.sql.streaming.StreamingQuery = {
    graft.functions.registerAll(items.sparkSession)
    items
      .select(col(itemCol).cast("string").as("item"))
      .withColumn("embedding", graft.functions.hash_embed(col("item"), dim))
      .writeStream
      .format("parquet")
      .option("path", indexPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()
  }

  /**
   * Streaming ingest INTO the 1-bit serving layout (r9 — closes the
   * loop [[streamingIndexAdd]] left open: streamed vectors landed in
   * the float table but never reached the quantized serving scans):
   * each micro-batch of `(vec_id, embedding)` rows is appended to the
   * [[graft.index.CodeLayout]] as one generation inside a
   * `foreachBatch` — the sink-side commit is the layout's atomic
   * manifest rename, and re-delivered batches (a retried epoch)
   * re-append the same ids, which last-write-wins resolution
   * collapses to the identical serving state (idempotent in effect,
   * though each retry costs a generation until [[graft.index
   * .CodeLayout.compact]]). Parity: the streamed layout's resolved
   * codes equal a one-shot batch build over the same rows
   * (spec-pinned).
   */
  def codeLayoutStream(vectors: DataFrame, layoutPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    vectors
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val existing =
            try Some(graft.index.CodeLayout.load(spark, layoutPath))
            catch { case _: IllegalArgumentException => None }
          existing match {
            case Some(l) => l.append(batch)
            case None =>
              graft.index.CodeLayout.buildOrLoad(batch, layoutPath); ()
          }
        }
      }
      .outputMode("append")
      .start()
  }

  /**
   * Streaming GDPR tombstones INTO the serving layout (r10 — closes
   * the loop [[codeLayoutStream]] left open: streamed vectors reached
   * the layout but a forget-list only reached it through a batch
   * `delete` job): each micro-batch of `(vec_id)` forget rows commits
   * ONE tombstone-only generation via [[graft.index.CodeLayout.delete]]
   * — the same atomic manifest rename as an append, so a purge ordered
   * through the stream is durable at the commit point and visible to
   * the next serving read, with no batch job in the loop (the
   * reference's Remove, SemanticDatabase.cs:423, for a live index).
   * A re-delivered batch (retried epoch) re-tombstones the same ids —
   * idempotent at read resolution (a tombstone over a tombstone is a
   * no-op), costing one extra generation until compact. The layout
   * must already exist: a forget-stream against no corpus fails loudly
   * rather than minting an empty layout that would silently serve
   * nothing. Parity: streamed delete ≡ batch delete (spec-pinned),
   * kill/restart safe (checkpointed epochs re-deliver, resolution
   * converges to the same serving state).
   */
  def codeLayoutForgetStream(forgets: DataFrame, layoutPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    forgets
      .select(col("vec_id").cast("long").as("vec_id"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.index.CodeLayout.load(batch.sparkSession, layoutPath)
            .delete(batch)
        }
      }
      .outputMode("append")
      .start()
  }

  /**
   * Streaming corpus heavy hitters — the unbounded form of
   * [[graft.queries.TextQueries.textHotNgrams]]'s candidate pass: the
   * Misra–Gries summary ([[graft.functions.FreqCandidates]]) runs as a
   * STREAMING AGGREGATION, so the state store holds exactly one
   * serialized ≤capacity-counter summary that each micro-batch's
   * partial summaries merge into — bounded state forever, however many
   * distinct n-grams stream past (a raw streaming `groupBy(token)`
   * would grow state with the vocabulary, unbounded on an open
   * corpus). Emits the current candidate array + running total each
   * trigger; a downstream batch recount (the textHotNgrams pass 2)
   * turns any snapshot into exact counts.
   *
   * The n-gram rule is the SHARED [[graft.queries.TextQueries.bigramsOf]]
   * definition, so batch and stream cannot drift; the MG superset
   * guarantee (every key with true count > N/(capacity+1) present) is
   * order-independent, which is exactly why a sketch — and not the
   * exact pass — is the streaming-correct form.
   */
  def hhStream(docs: DataFrame, capacity: Int = 1000): DataFrame = {
    graft.functions.registerAll(docs.sparkSession)
    docs
      .select(explode(graft.queries.TextQueries.bigramsOf(col("text"))).as("bigram"))
      .groupBy()
      .agg(graft.functions.freq_candidates(col("bigram"), capacity).as("cands"),
        count(lit(1)).as("n"))
  }

  /**
   * Streaming event-transition extraction — the ingest half of
   * [[graft.queries.RelationalQueries.qMarkov]]: per user, the state
   * store carries ONLY the last event `(ts, event_id, type)` (a few
   * dozen bytes per user, forever), and each arriving event emits its
   * `(prev_type, next_type)` transition — including transitions that
   * SPAN micro-batches, which a per-batch window could never see.
   * Downstream, counting transitions is an ordinary streaming
   * aggregation (the hhStream shape); the batch twin's window-lag
   * formulation and this state form produce identical transition
   * multisets (spec-pinned parity). Assumes in-order events per user
   * across batches (per-batch arrivals are sorted by (ts, event_id)
   * here; the batch twin's lag window uses the same order).
   */
  def markovStream(events: DataFrame): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "event_type", "ts_us", "event_id")
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[(Long, String, Long, Long)],
            state: GroupState[LastEvent]) => {
          var last = state.getOption
          val out = rows.toSeq.sortBy(r => (r._3, r._4)).flatMap {
            case (_, tpe, ts, eid) =>
              val t = last.map(l => Transition(uid, l.tpe, tpe))
              last = Some(LastEvent(ts, eid, tpe))
              t
          }
          last.foreach(state.update)
          out.iterator
        })
  }

  /**
   * Streaming PSI drift monitor (r9) — the unbounded half of
   * [[graft.queries.RelationalQueries.qPsi]]: the BASELINE (bin
   * shares + value range) is a batch-trained constant set (the
   * fit/apply discipline — drift is always measured against a
   * frozen fit), and the live side is ONE streaming
   * aggregation whose state is exactly `bins` long counters packed
   * into a single row, bounded forever however much streams past.
   * Each trigger emits the current bin counts, total, and the PSI
   * against the baseline — the same bin rule, the same 1e-6-floored
   * `(q−p)·ln(q/p)` terms (per-bin 6-dp floors, then the sum) as the
   * batch twin, via shared constants and identical expressions; a
   * batch ≡ stream parity spec pins it.
   */
  def psiStream(rows: DataFrame, lo: Double, hi: Double,
      baseShares: Seq[Double], bins: Int = 20): DataFrame = {
    require(baseShares.length == bins,
      s"baseShares carries ${baseShares.length} bins, stream expects $bins")
    val bin = if (hi > lo)
      least(floor((col("v") - lit(lo)) * bins / (lit(hi) - lit(lo)))
        .cast("int"), lit(bins - 1))
    else lit(0)
    val counts = (0 until bins).map(i =>
      sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"b$i"))
    val agged = rows.select(bin.as("bin"))
      .groupBy()
      .agg(counts.head, counts.tail: _*)
    val tot = (0 until bins).map(i => col(s"b$i")).reduce(_ + _)
    val terms = (0 until bins).map { i =>
      val q = greatest(col(s"b$i").cast("double") /
        greatest(tot, lit(1L)), lit(1e-6))
      val p = lit(math.max(baseShares(i), 1e-6))
      floor((q - p) * log(q / p) * 1e6 + 0.5) / 1e6
    }
    agged.select(
      array((0 until bins).map(i => col(s"b$i")): _*).as("bin_counts"),
      tot.as("n_cur"),
      terms.reduce(_ + _).as("psi"))
  }


  /**
   * Streaming first/last-touch attribution (r8) — the ingest form of
   * [[graft.queries.RelationalQueries.qAttribution]]: per user the
   * state store carries the FIRST event type ever seen and the
   * PREVIOUS event type (two strings, forever); each arriving purchase
   * emits its credit row (first_touch, last_touch, value) — including
   * credits that span micro-batches, which a per-batch window cannot
   * see. Aggregating credits per channel downstream is an ordinary
   * streaming aggregation. Batch parity + checkpoint recovery are
   * spec-pinned; in-order events per user assumed (the markovStream
   * contract).
   */
  def attributionStream(events: DataFrame): Dataset[AttributionCredit] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "event_type", "ts_us", "event_id", "value")
      .as[(Long, String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[(Long, String, Long, Long, Double)],
            state: GroupState[TouchState]) => {
          var st = state.getOption.getOrElse(TouchState(null, null))
          val out = rows.toSeq.sortBy(r => (r._3, r._4)).flatMap {
            case (_, tpe, _, _, value) =>
              val first = if (st.first == null) tpe else st.first
              val credit =
                if (tpe == "purchase")
                  Some(AttributionCredit(uid, first,
                    if (st.prev == null) tpe else st.prev, value))
                else None
              st = TouchState(first, tpe)
              credit
          }
          state.update(st)
          out.iterator
        })
  }

  /**
   * Streaming distinct-user estimation — the KMV bottom-k sketch as a
   * STREAMING AGGREGATION (the hhStream discipline): the state store
   * holds ONE ≤ k-double sketch per group that every micro-batch
   * merges into — bounded state forever, where a streaming
   * `approx_count_distinct` state is also bounded but engine-opaque
   * and a raw distinct grows with the user space. Emits the sketch
   * array + running row count; the estimate is the same
   * `(k−1)/u_k` rule as the batch `q_kmv_distinct`, and because the
   * sketch is a pure function of the set, streamed ≡ batch sketches
   * bit-for-bit (spec-pinned).
   */
  def kmvDistinctStream(events: DataFrame, k: Int = 64): DataFrame = {
    graft.functions.registerAll(events.sparkSession)
    // the SHARED clamp definition — batch q_kmv_distinct uses the same
    // one, which is what makes streamed ≡ batch sketches bit-for-bit
    val u = graft.queries.PipelineQueries.hashUniform(
      col("user_id").cast("string"))
    events
      .select(col("event_type"), u.as("u"))
      .groupBy(col("event_type"))
      .agg(graft.functions.kmv_bottomk(col("u"), k).as("sk"),
        count(lit(1)).as("n_rows"))
  }

  /**
   * Streaming experiment readout (r8) — the live form of the q_ab
   * family: running per-arm (n, Σx, Σx²) decimal moments over the
   * deterministic md5 user split, as a streaming aggregation in
   * Update/Complete mode — 3 decimals of state per arm forever,
   * order-independent merges, so the emitted moments at ANY trigger
   * equal a batch recompute over everything seen (spec-pinned) and a
   * serving layer derives mean/diff/z with the batch operators'
   * arithmetic. The dashboard refreshes per micro-batch instead of
   * per nightly job; the SRM check is the same frame's n_a vs n_b.
   */
  def experimentStream(events: DataFrame): DataFrame = {
    // the SHARED split — a re-implemented copy here could silently
    // desynchronize stream arms from the batch family's
    val arm = graft.queries.RelationalQueries.armOf(col("user_id"))
    events
      .select(arm.as("arm"),
        round(col("value") * 100).cast("long").cast("decimal(18,0)").as("c"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("sx"),
        sum(col("c") * col("c")).as("sx2"))
  }

  /**
   * Streaming ordered funnel (r8) — the ingest half of
   * [[graft.queries.RelationalQueries.qFunnel]]: per user the state
   * store carries (first view ts, first ORDERED click ts, purchased)
   * — two longs and a flag, forever — and each arrival that advances
   * the funnel emits its step, INCLUDING advances whose prerequisite
   * landed in an earlier micro-batch (the case a per-batch window
   * can't see). Ordering semantics are the batch twin's exactly:
   * a step counts only STRICTLY after the previous step's first
   * completion (same-instant events don't chain). Downstream step
   * counting is an ordinary streaming aggregation. Batch ≡ stream
   * parity spec-pinned UNDER the markovStream contract — events
   * arrive in (ts, event_id) order per user ACROSS batches. A step
   * whose prerequisite arrives in a LATER batch is not buffered and
   * will not fire retroactively (the batch twin, sorting globally,
   * would count it) — feed out-of-order ingest through a watermarked
   * reorder stage first, and size it with q_lateness/latenessStream.
   */
  def funnelStream(events: DataFrame): Dataset[FunnelAdvance] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "event_type", "ts_us", "event_id")
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[(Long, String, Long, Long)],
            state: GroupState[FunnelState]) => {
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, p = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelAdvance]
          rows.toSeq.sortBy(r => (r._3, r._4)).foreach { case (_, tpe, ts, _) =>
            if (tpe == "view" && st.vt < 0) {
              st = st.copy(vt = ts); out += FunnelAdvance(uid, 1)
            } else if (tpe == "click" && st.vt >= 0 && st.vt < ts && st.ct < 0) {
              st = st.copy(ct = ts); out += FunnelAdvance(uid, 2)
            } else if (tpe == "purchase" && st.ct >= 0 && st.ct < ts && !st.p) {
              st = st.copy(p = true); out += FunnelAdvance(uid, 3)
            }
          }
          state.update(st)
          out.iterator
        })
  }

  /**
   * Streaming lateness measurement (r8) — the ingest half of
   * [[graft.queries.RelationalQueries.qLateness]]: per user the state
   * store carries ONLY the running-max event time (8 bytes, forever);
   * each arrival emits its minute-bucketed gap to that max — including
   * gaps that SPAN micro-batches, which a per-batch window cannot see.
   * Downstream bucket counting is an ordinary streaming aggregation.
   * This is the live form of the watermark table: the operator a
   * pipeline runs NEXT TO its windowed aggs to check the configured
   * watermark against reality. Batch ≡ stream parity spec-pinned
   * (arrival order = event_id, the markovStream contract).
   */
  def latenessStream(events: DataFrame): Dataset[LatenessEmit] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "event_id", "ts_us")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[(Long, Long, Long)],
            state: GroupState[MaxTs]) => {
          var mx = state.getOption.map(_.us).getOrElse(Long.MinValue)
          val out = rows.toSeq.sortBy(_._2).map { case (_, eid, us) =>
            mx = math.max(mx, us)
            LatenessEmit(uid, eid, (mx - us) / 60000000L)
          }
          state.update(MaxTs(mx))
          out.iterator
        })
  }

  /**
   * Streaming deterministic sample (r8) — the ingest form of the
   * q_sample_n / q_sample_stratified bottom-k selection: per stratum
   * (language), the k docs with the smallest id-hash uniform, kept as
   * a k-bounded `vec_topk` heap aggregate — state is ≤ k (u, id)
   * pairs per stratum FOREVER, and because the bottom-k of a set is a
   * pure function of the set (merges order-independent), the streamed
   * sample equals the batch sample over everything seen bit-for-bit
   * at every trigger (spec-pinned). vs a classic streaming reservoir:
   * no RNG state to checkpoint, replayable across engines and
   * re-ingests, and a late row can only displace a strictly larger
   * hash — never corrupt the sample's distribution.
   */
  def sampleStream(docs: DataFrame, k: Int = 20): DataFrame = {
    graft.functions.registerAll(docs.sparkSession)
    // the SHARED clamp definition (batch q_sample_stratified uses the
    // same one) — this is what makes streamed ≡ batch samples exact
    val u = graft.queries.PipelineQueries.hashUniform(
      col("doc_id").cast("string"))
    docs
      .select(col("lang"), col("doc_id"), (-u).as("negu"))
      .groupBy(col("lang"))
      .agg(graft.functions.vec_topk(col("negu"), col("doc_id"), k).as("top"),
        count(lit(1)).as("n_seen"))
  }

  /**
   * Streaming 3-gram path extraction — the ingest half of
   * [[graft.queries.RelationalQueries.qHotPaths]]: per user the state
   * store carries the last TWO events, each arrival emits its
   * `p1>p2>p3` path (spanning micro-batches — the lag-window batch
   * form sees those only because it sorts the whole corpus), and
   * counting hot paths downstream is exactly the hhStream
   * Misra–Gries aggregation over the emitted path stream (the shared
   * `freq_candidates` aggregate — chained as its own query in
   * production, since Spark allows one state-store operator per
   * query outside time-window shapes). Spec pins the emitted path
   * multiset against the batch double-lag twin.
   */
  def hotPathsStream(events: DataFrame): Dataset[PathEmit] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "event_type", "ts_us", "event_id")
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[(Long, String, Long, Long)],
            state: GroupState[Last2]) => {
          var hist = state.getOption.map(_.tpes).getOrElse(Vector.empty)
          val out = rows.toSeq.sortBy(r => (r._3, r._4)).flatMap {
            case (_, tpe, _, _) =>
              val p = if (hist.length == 2)
                Some(PathEmit(uid, s"${hist(0)}>${hist(1)}>$tpe")) else None
              hist = (hist :+ tpe).takeRight(2)
              p
          }
          state.update(Last2(hist))
          out.iterator
        })
  }

  /**
   * Streaming anomaly gate — the ingest form of
   * [[graft.queries.RelationalQueries.qAnomaly]]: per series, a
   * BOUNDED ring of the trailing 24 hourly values lives in the state
   * store (flatMapGroupsWithState), and each arriving hour is scored
   * against Tukey's fence (|v − median| > 1.5×IQR of the ring) before
   * it lands — then pushed into the ring. State is 24 doubles per
   * series FOREVER, however long the stream runs; the selection-based
   * statistics are the same ones that make the batch form
   * oracle-matchable (an accumulated rolling stddev would drift with
   * fold order). Scoring uses [[AnomalyScore.score]] — ONE definition
   * shared with the spec's batch replay, so batch and stream cannot
   * drift. Assumes in-order hours per series (the resample stage
   * upstream emits them ordered); a full late-data treatment would add
   * a watermark + reorder buffer.
   */
  def anomalyStream(hourly: DataFrame): Dataset[AnomalyVerdict] = {
    val spark = hourly.sparkSession
    import spark.implicits._
    hourly
      .selectExpr("series", "h", "v")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (series: Long, rows: Iterator[(Long, Long, Double)],
            state: GroupState[AnomalyRing]) => {
          var ring = state.getOption.getOrElse(AnomalyRing(Vector.empty))
          val out = rows.toSeq.sortBy(_._2).map { case (_, h, v) =>
            // score only against a CONTIGUOUS trailing day: 24 entries
            // covering exactly h−24 .. h−1 (the batch form's lag gate —
            // a gapped ring would be a stale baseline)
            val contiguous = ring.hv.length == 24 &&
              ring.hv.head._1 == h - 24 && ring.hv.last._1 == h - 1
            val verdict =
              if (contiguous) {
                val (med, iqr) = AnomalyScore.score(ring.hv.map(_._2))
                AnomalyVerdict(series, h, v, scored = true,
                  isAnomaly = math.abs(v - med) > 1.5 * iqr)
              } else AnomalyVerdict(series, h, v, scored = false, isAnomaly = false)
            ring = AnomalyRing((ring.hv :+ (h, v)).takeRight(24))
            verdict
          }
          state.update(ring)
          out.iterator
        })
  }
}

/** The last event seen for one user — the entire per-user state of
  * [[StreamOps.markovStream]]. */
final case class LastEvent(ts: Long, eventId: Long, tpe: String)

final case class MaxTs(us: Long)

final case class FunnelState(vt: Long, ct: Long, p: Boolean)

final case class FunnelAdvance(user_id: Long, step: Int)

final case class LatenessEmit(user_id: Long, event_id: Long, late_min: Long)

/** First-ever and previous event type for one user — the entire
  * per-user state of [[StreamOps.attributionStream]]. */
final case class TouchState(first: String, prev: String)

/** One purchase's attribution credit. */
final case class AttributionCredit(user_id: Long, first_touch: String,
  last_touch: String, value: Double)

/** The last ≤2 event types for one user ([[StreamOps.hotPathsStream]]). */
final case class Last2(tpes: Vector[String])

/** One emitted 3-gram path for a user. */
final case class PathEmit(user_id: Long, path: String)

/** One observed `prev → next` event transition for a user. */
final case class Transition(user_id: Long, prev_type: String, next_type: String)

/** Trailing ring of ≤24 (hour, value) pairs — the entire per-series
  * state; hours carry through so the contiguity gate can reject gapped
  * baselines. */
final case class AnomalyRing(hv: Vector[(Long, Double)])

final case class AnomalyVerdict(series: Long, h: Long, v: Double,
    scored: Boolean, isAnomaly: Boolean)

/** Selection-based window statistics shared by [[StreamOps.anomalyStream]]
  * and its batch-parity spec: the `percentile` interpolation Spark and
  * DuckDB agree on, over the exact window values. */
object AnomalyScore {
  private def pct(sorted: IndexedSeq[Double], q: Double): Double = {
    val rank = q * (sorted.length - 1)
    val lo = sorted(rank.toInt)
    val hi = sorted(math.min(rank.toInt + 1, sorted.length - 1))
    val g = rank - rank.toInt
    (1 - g) * lo + g * hi
  }

  /** (median, IQR) of the window. */
  def score(vs: Seq[Double]): (Double, Double) = {
    val s = vs.sorted.toIndexedSeq
    (pct(s, 0.5), pct(s, 0.75) - pct(s, 0.25))
  }
}
