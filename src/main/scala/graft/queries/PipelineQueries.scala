package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._

/**
 * Corpus-curation operators a large-scale training-data pipeline runs
 * beyond dedup/ANN: benchmark decontamination, PII scrubbing, and
 * deterministic (reproducible, engine-independent) sampling.
 *
 * Scale design (100 TB):
 *  - Decontamination: the benchmark side is SMALL by nature (eval sets
 *    are thousands of documents, not billions) — its distinct n-grams
 *    broadcast, the corpus side is a narrow per-row explode joined
 *    map-side, and the only shuffle is a groupBy over the HIT rows (a
 *    vanishing fraction of the corpus).
 *  - PII scrub: pure per-row regex column math — zero shuffle, runs at
 *    parquet-scan speed inside whole-stage codegen.
 *  - Sampling: membership is a pure function of (salt, doc_id) via md5,
 *    so the sample is reproducible across runs, engines and cluster
 *    sizes — a map-side filter with NO shuffle and no RNG-partition
 *    coupling (Spark's native `sample()` changes membership with
 *    partitioning; this doesn't).
 */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // -------------------------------------------------------------------------
  // Benchmark decontamination (train/eval n-gram overlap)
  // -------------------------------------------------------------------------

  /**
   * Flag training documents sharing any word n-gram with an evaluation
   * set — the standard pre-training decontamination step (GPT-3 used
   * 13-grams; this corpus's tiny synthetic vocabulary makes 4-grams the
   * discriminative width, see SURVEY §2.4). The eval set here is the
   * deterministic `doc_id % evalMod == 0` slice standing in for a real
   * benchmark table; swap any DataFrame of texts in via [[decontaminateAgainst]].
   *
   * Output: one row per NON-eval document with the count of distinct
   * eval n-grams it contains and the resulting contamination flag.
   */
  def decontaminate(s: SparkSession, dir: String, n: Int = 4,
      evalMod: Long = 50): DataFrame = {
    val docs = t(s, dir, "documents")
    val isEval = col("doc_id") % evalMod === 0
    decontaminateAgainst(docs.filter(!isEval), docs.filter(isEval), n)
  }

  /**
   * General form: flag `corpus` documents sharing any word n-gram with
   * `benchmark`. Both sides are tokenized with the shared
   * [[graft.functions.WordNgrams]] kernel (lowercase, whitespace split,
   * distinct n-grams — one pass, no shuffle). The benchmark gram set is
   * broadcast; corpus grams never shuffle — only per-doc hit counts do.
   */
  def decontaminateAgainst(corpus: DataFrame, benchmark: DataFrame,
      n: Int): DataFrame = {
    registerAll(corpus.sparkSession)
    val evalGrams = benchmark
      .select(explode(word_ngrams(col("text"), n)).as("gram")).distinct()
    // word_ngrams emits DISTINCT grams per doc, so count(*) after the
    // join is the count of distinct shared grams
    val hits = corpus
      .select(col("doc_id"), explode(word_ngrams(col("text"), n)).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_contaminated_grams"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Collect the (small) benchmark gram set into a sorted literal array
    * column. Eval sets are driver-collectable by nature (thousands of
    * docs, not billions); as a plan-time literal the contamination
    * check becomes a pure per-row `array_intersect` — no join, no
    * shuffle, and legal in a stateless streaming select
    * ([[graft.streaming.StreamOps.decontaminateStream]]). For benchmark
    * sets too big to inline, use [[decontaminateAgainst]]'s broadcast
    * join instead. */
  private[graft] def broadcastGrams(evalGrams: DataFrame): org.apache.spark.sql.Column =
    typedLit(evalGrams.collect().map(_.getString(0)).toSeq.sorted)

  /** The same n-gram overlap in DuckDB (n = 4, evalMod = 50). */
  val decontaminateSql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> length(x) > 0) AS t
      |  FROM documents),
      |ng AS (
      |  -- range mirrors WordNgrams: a doc with < 4 tokens emits ONE
      |  -- truncated gram (DuckDB list slices clamp), empty docs emit ''
      |  SELECT doc_id,
      |    list_distinct([coalesce(array_to_string(t[i:i+3], ' '), '')
      |                   FOR i IN range(1, greatest(len(t) - 4, 0) + 2)]) AS g
      |  FROM tk),
      |ev AS (SELECT DISTINCT unnest(g) AS gram FROM ng WHERE doc_id % 50 = 0),
      |hits AS (
      |  SELECT ng.doc_id, count(*) AS n
      |  FROM ng, unnest(ng.g) AS u(gram) JOIN ev ON ev.gram = u.gram
      |  WHERE ng.doc_id % 50 != 0 GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(h.n, 0) AS n_contaminated_grams,
      |  coalesce(h.n, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |WHERE d.doc_id % 50 != 0
      |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // PII detection / redaction
  // -------------------------------------------------------------------------

  /** Conservative patterns in the regex subset Java and RE2 share
    * (no lookaround/backrefs — RE2 has neither). Order matters for
    * redaction: email before phone (an email's digits must not be
    * phone-eaten), SSN before IP/phone (digit-dash runs). */
  private[queries] val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[queries] val PiiSsn = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  private[queries] val PiiIpv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private[queries] val PiiPhone = "\\+?[0-9][0-9().\\- ]{6,}[0-9]"

  /**
   * PII survey + scrub over `documents`: per-category match counts and
   * a redacted text with each category replaced by a typed placeholder.
   * Pure per-row regex math (codegen'd, shuffle-free, scan-speed). The
   * synthetic corpus contains no digits, so counts are legitimately
   * zero here — PipelineSpec plants real addresses/numbers and asserts
   * detection and redaction behavior.
   *
   * The phone pattern would also match an SSN or dotted IPv4 (it is the
   * loosest digit-run pattern), so `n_phone` is counted on the text
   * with the three more-specific categories already blanked — each
   * match is attributed to exactly ONE category, consistent with the
   * redaction chain's precedence.
   */
  def textPii(s: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val nEmail = regexp_count(txt, lit(PiiEmail))
    val nSsn = regexp_count(txt, lit(PiiSsn))
    val nIp = regexp_count(txt, lit(PiiIpv4))
    val phoneBase = regexp_replace(
      regexp_replace(regexp_replace(txt, PiiEmail, " "), PiiSsn, " "),
      PiiIpv4, " ")
    val nPhone = regexp_count(phoneBase, lit(PiiPhone))
    t(s, dir, "documents").select(
      col("doc_id"),
      nEmail.as("n_email"), nSsn.as("n_ssn"), nIp.as("n_ip"), nPhone.as("n_phone"),
      (nEmail + nSsn + nIp + nPhone > 0).as("has_pii"),
      redact(txt).as("redacted"))
      .orderBy(col("doc_id"))
  }

  /** Redaction chain shared by the query, the spec, and the streaming
    * curation pass ([[graft.streaming.StreamOps.curate]]). */
  private[graft] def redact(txt: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(txt, PiiEmail, "<EMAIL>"),
          PiiSsn, "<SSN>"),
        PiiIpv4, "<IP>"),
      PiiPhone, "<PHONE>")

  /** Identical regex arithmetic in DuckDB (RE2). */
  val textPiiSql: String = {
    // DuckDB single-quoted literals do no backslash processing, so the
    // Java pattern strings embed verbatim (the shared RE2/Java subset)
    def cnt(p: String) = s"CAST(len(regexp_extract_all(text, '$p')) AS INT)"
    val e = PiiEmail
    val ssn = PiiSsn
    val ip = PiiIpv4
    val ph = PiiPhone
    val phoneBase = "regexp_replace(regexp_replace(regexp_replace(text, " +
      s"'$e', ' ', 'g'), '$ssn', ' ', 'g'), '$ip', ' ', 'g')"
    s"""SELECT doc_id,
       |  ${cnt(e)} AS n_email,
       |  ${cnt(ssn)} AS n_ssn,
       |  ${cnt(ip)} AS n_ip,
       |  CAST(len(regexp_extract_all($phoneBase, '$ph')) AS INT) AS n_phone,
       |  len(regexp_extract_all(text, '$e')) + len(regexp_extract_all(text, '$ssn'))
       |    + len(regexp_extract_all(text, '$ip'))
       |    + len(regexp_extract_all($phoneBase, '$ph')) > 0 AS has_pii,
       |  regexp_replace(
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(text, '$e', '<EMAIL>', 'g'),
       |        '$ssn', '<SSN>', 'g'),
       |      '$ip', '<IP>', 'g'),
       |    '$ph', '<PHONE>', 'g') AS redacted
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Training-sequence packing (concat-and-chunk layout)
  // -------------------------------------------------------------------------

  /**
   * Sequence-packing layout: documents are concatenated in `doc_id`
   * order and the token stream is cut into fixed-capacity training
   * sequences of `cap` tokens — the standard pre-training batch layout
   * (sequences may straddle document boundaries; attention masking
   * handles the seams downstream). Each document gets its global token
   * offset and the range of sequence ids it lands in.
   *
   * Scale design — a distributed two-pass prefix sum, NOT a
   * single-partition window: a plain `sum() over (order by doc_id)`
   * collapses the corpus into one task at 100 TB. Here:
   *   1. each doc gets a BUCKET — a pure deterministic function of its
   *      id (linear bin over the observed id range) — and a Catalyst
   *      window PARTITIONED BY that bucket computes the bucket-local
   *      running sums (an ordinary bounded-frame window agg: pure
   *      Tungsten, whole-stage codegen, one shuffle on the bucket —
   *      parallel because the partition key is the bucket, not empty);
   *   2. per-bucket totals (one tiny row each) come to the driver and
   *      their exclusive prefix becomes a literal bucket → offset map
   *      added map-side. No global sort at any point.
   * Because the bucket is a function of the id alone (not of physical
   * partitioning), every recomputation of the plan assigns identically
   * — the result needs no persist for correctness and is independent
   * of the bucket count (spec-asserted). Output order is unspecified;
   * callers that need one sort the (already tiny) result.
   *
   * Input: any frame with (`doc_id` long, `n_tokens` long, n_tokens > 0
   * rows are packed; callers filter empties; ids must be unique).
   */
  def packSequences(docs: DataFrame, cap: Int, numBuckets: Int = 0): DataFrame = {
    require(cap > 0, s"packSequences: cap must be positive, got $cap")
    val s = docs.sparkSession
    val p =
      if (numBuckets > 0) numBuckets
      else s.conf.get("spark.sql.shuffle.partitions").toInt
    val bounds = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (bounds.isNullAt(0)) // empty input: empty output, same schema
      return docs.sparkSession.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("n_tokens"), lit(0L).as("tok_start"),
          lit(0L).as("seq_first"), lit(0L).as("seq_last"), lit(0L).as("n_seqs"))
        .limit(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1.0, (hi - lo).toDouble + 1.0)
    val bucket = least(lit(p - 1),
      ((col("doc_id") - lo).cast("double") * p / span).cast("int"))
    // the bucket-local running sum is a plain window agg: exclusive
    // frame [unbounded, -1), partitioned on the bucket — the shuffle
    // this costs is the same one the old hand-rolled mapPartitions
    // paid, without the encoder round-trip that evicted the stage from
    // whole-stage codegen
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val local = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"), bucket.as("bucket"))
      .withColumn("local_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
    val totals = local.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("total"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (b, tot) => val o = acc; acc += tot; b -> o }.toMap
    local.select(col("doc_id"), col("n_tokens"),
        (col("local_start") + element_at(typedLit(offsets), col("bucket"))).as("tok_start"))
      .withColumn("seq_first", expr(s"tok_start DIV $cap"))
      .withColumn("seq_last", expr(s"(tok_start + n_tokens - 1) DIV $cap"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
  }

  /** [[packSequences]] over `documents` at cap 2048, token counts from
    * the one-pass [[graft.functions.TokStats]] kernel; ordered by id
    * for the deterministic gate compare. */
  def qPack(s: SparkSession, dir: String, cap: Int = 2048): DataFrame = {
    registerAll(s)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        tok_stats(col("text")).getField("n_tokens").cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    packSequences(docs, cap).orderBy(col("doc_id"))
  }

  /** The same packing as ONE window cumsum in DuckDB — fine at oracle
    * scale, the single-task layout the Spark side exists to avoid. */
  val qPackSql: String =
    """WITH nz AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
      |                         x -> length(x) > 0)) AS BIGINT) AS n_tokens
      |  FROM documents
      |  WHERE len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) > 0),
      |cum AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
      |  FROM nz)
      |SELECT doc_id, n_tokens, tok_start,
      |  tok_start // 2048 AS seq_first,
      |  (tok_start + n_tokens - 1) // 2048 AS seq_last,
      |  (tok_start + n_tokens - 1) // 2048 - tok_start // 2048 + 1 AS n_seqs
      |FROM cum ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Deterministic sampling
  // -------------------------------------------------------------------------

  /** Uniform [0, 1) hash of a doc id: first 4 hex chars of
    * md5("graft:" || id), compared lexicographically — identical in any
    * engine with md5, unlike RNG-based `sample()` whose membership
    * changes with partitioning. */
  private def hashBucket(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(md5(concat(lit("graft:"), id.cast("string")).cast("binary")), 1, 4)

  /**
   * Stratified deterministic sample: per-language rates (en 50 %,
   * zh 25 %, others 12.5 %) applied as a pure map-side filter — the
   * shape of corpus rebalancing in a pre-training mix (up-weight head
   * languages, down-weight tail). No shuffle, no RNG: re-running on a
   * different cluster layout keeps the exact same rows.
   */
  def qSample(s: SparkSession, dir: String): DataFrame = {
    val b = hashBucket(col("doc_id"))
    val threshold = when(col("lang") === "en", "8000")
      .when(col("lang") === "zh", "4000")
      .otherwise("2000")
    t(s, dir, "documents")
      .filter(b < threshold)
      .select(col("doc_id"), col("lang"), col("source"), b.as("bucket"))
      .orderBy(col("doc_id"))
  }

  val qSampleSql: String =
    """SELECT doc_id, lang, source,
      |  substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
      |FROM documents
      |WHERE substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4) <
      |  CASE WHEN lang = 'en' THEN '8000' WHEN lang = 'zh' THEN '4000' ELSE '2000' END
      |ORDER BY doc_id""".stripMargin

  /**
   * Exact-size deterministic sample: the `k` documents with the
   * smallest id-hash — a distributed reservoir equivalent that needs no
   * RNG state. Spark executes it as TakeOrderedAndProject (per-partition
   * top-k, driver merge of k-row heaps), so no corpus-wide sort or
   * shuffle happens at any scale.
   */
  def qSampleN(s: SparkSession, dir: String, k: Int = 100): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"), hashBucket(col("doc_id")).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  val qSampleNSql: String =
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source
      |  FROM documents
      |  ORDER BY substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 4), doc_id
      |  LIMIT 100)
      |ORDER BY doc_id""".stripMargin

  /**
   * Stratified deterministic sample (r8) — k docs per language, the
   * "balanced multilingual subset" curation shape (uniform sampling
   * starves tail languages; per-stratum bottom-k by a deterministic
   * per-doc uniform gives every stratum exactly min(k, |stratum|)
   * rows, replayable forever).
   *
   * Scale: per-group selection is the [[graft.functions.vec_topk]]
   * k-bounded partial heap — map-side combine, the exchange carries
   * ≤ #partitions × #langs × k pairs, and NO low-cardinality-key
   * row_number window ever sees the doc grain (the q_rfm lesson —
   * a lang-partitioned window would funnel the corpus through
   * #langs tasks). Full hash oracle via the xxhash64 uniform
   * transcription.
   */
  def qSampleStratified(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    graft.functions.registerAll(s)
    val u = hashUniform(col("doc_id").cast("string"))
    t(s, dir, "documents")
      .select(col("lang"), col("doc_id"), (-u).as("negu"))
      .groupBy(col("lang"))
      .agg(graft.functions.vec_topk(col("negu"), col("doc_id"), k).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy(col("lang"), col("rank"))
  }

  /** The identical uniform + (u asc, doc_id asc) bottom-k in SQL. */
  lazy val qSampleStratifiedSql: String = {
    val toSigned = DedupQueries.toSignedSql
    s"""WITH d AS (
       |  SELECT lang, doc_id, CAST(doc_id AS VARCHAR) AS tk FROM documents),
       |tok AS (SELECT DISTINCT tk FROM d),
       |${DedupQueries.xxHashTokenCtes},
       |us AS (
       |  SELECT d.lang, d.doc_id,
       |    GREATEST(LEAST(
       |      CAST($toSigned AS DOUBLE) / 18446744073709551616.0 + 0.5,
       |      0.9999999999999999), 5.421010862427522e-20) AS u
       |  FROM d JOIN hashed USING (tk)),
       |r AS (
       |  SELECT lang, doc_id,
       |    row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rank
       |  FROM us)
       |SELECT lang, doc_id, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= 20
       |ORDER BY lang, rank""".stripMargin
  }

  /**
   * WEIGHTED exact-size sample — A-Res weighted reservoir sampling
   * (Efraimidis & Spirakis 2006): each row draws a deterministic
   * uniform `u` from its id hash and ranks by the key `u^(1/w)`
   * (computed in log space: `ln(u)/w`, monotone-equivalent and better
   * conditioned); the top `k` keys ARE the weighted sample — inclusion
   * probability proportional to weight, exact sample size, fully
   * mergeable (top-k of a union is the top-k of per-partition top-ks,
   * which is why Spark plans it as TakeOrderedAndProject: per-partition
   * heaps, no corpus shuffle). Weight = document token-ish mass
   * (`n_chars`): the "sample training docs proportional to length"
   * curation shape. Deterministic hash → the sample replays in SQL and
   * the key arithmetic hash-matches; the statistical property
   * (heavier docs overrepresented vs uniform) is spec-pinned.
   */
  def qSampleWeighted(s: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val u = hashUniform(col("doc_id").cast("string"))
    val w = greatest(col("n_chars").cast("double"), lit(1.0))
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        (log(u) / w).as("akey"))
      .orderBy(col("akey").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("source"), col("n_chars"),
        // floor-based rounding (the shared discipline): identical
        // double arithmetic in both engines, no HALF_UP-vs-binary split
        (floor(col("akey") * 1e10 + 0.5) / 1e10).as("akey"))
      .orderBy(col("doc_id"))
  }

  val qSampleWeightedSql: String = {
    val toSigned = graft.queries.DedupQueries.toSignedSql
    s"""WITH d AS (
       |  SELECT doc_id, source, n_chars, CAST(doc_id AS VARCHAR) AS tk
       |  FROM documents),
       |tok AS (SELECT DISTINCT tk FROM d),
       |${graft.queries.DedupQueries.xxHashTokenCtes},
       |keyed AS (
       |  SELECT d.doc_id, d.source, d.n_chars,
       |    ln(GREATEST(LEAST(
       |        CAST($toSigned AS DOUBLE) / 18446744073709551616.0 + 0.5,
       |        0.9999999999999999), 5.421010862427522e-20))
       |      / GREATEST(CAST(n_chars AS DOUBLE), 1.0) AS akey
       |  FROM d JOIN hashed USING (tk))
       |SELECT doc_id, source, n_chars, FLOOR(akey * 1e10 + 0.5) / 1e10 AS akey FROM (
       |  SELECT * FROM keyed ORDER BY akey DESC, doc_id LIMIT 100)
       |ORDER BY doc_id""".stripMargin
  }

  /**
   * k-anonymity audit — the release-gate complement of the DP and
   * GDPR operators: rows grouped by their quasi-identifier tuple
   * (lang, source — the columns a re-identification join would use)
   * are releasable only when the group has ≥ k members; smaller groups
   * must be SUPPRESSED before any per-group table leaves the pipeline
   * (a group of one IS an identification). One partial-aggregated
   * pass; the output is the per-group verdict plus suppressed counts —
   * what a privacy review actually signs off on.
   */
  def qKAnon(s: SparkSession, dir: String, k: Int = 25): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), col("source"), col("n"),
        (col("n") >= k).as("k_anonymous"),
        when(col("n") >= k, lit(0L)).otherwise(col("n")).as("suppressed_rows"))
      .orderBy(col("lang"), col("source"))

  val qKAnonSql: String =
    """SELECT lang, source, count(*) AS n,
      |  count(*) >= 25 AS k_anonymous,
      |  CASE WHEN count(*) >= 25 THEN 0 ELSE count(*) END AS suppressed_rows
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  // -------------------------------------------------------------------------
  // Domain-mix rebalancing
  // -------------------------------------------------------------------------

  /**
   * Per-domain sampling plan that rebalances the corpus token mix
   * toward a uniform target share — the "data mixing" step of
   * pre-training curation. Downsample-only: a domain holding more than
   * its 1/n_domains token share gets `keep_prob < 1`; under-represented
   * domains keep everything (keep_prob = 1) — upweighting is an epoch
   * decision, not a filter.
   *
   * Scale design: token counting partial-aggregates map-side straight
   * down to a domains-sized frame (tens of rows at any corpus size);
   * everything after is arithmetic on that tiny frame. One corpus scan.
   */
  def qMixRebalance(s: SparkSession, dir: String): DataFrame = {
    val byDomain = t(s, dir, "documents")
      .select(col("source"),
        size(TextQueries.toks(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("domain_tokens"))
    val totals = byDomain.agg(
      sum(col("domain_tokens")).as("total_tokens"),
      count(lit(1)).as("n_domains"))
    byDomain.crossJoin(broadcast(totals))
      .select(
        col("source"), col("n_docs"), col("domain_tokens"),
        round(col("domain_tokens").cast("double") /
          col("total_tokens").cast("double"), 6).as("token_share"),
        round(least(lit(1.0),
          (col("total_tokens").cast("double") / col("n_domains").cast("double")) /
            col("domain_tokens").cast("double")), 6).as("keep_prob"))
      .orderBy(col("source"))
  }

  val qMixRebalanceSql: String =
    """WITH by_domain AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                             x -> length(x) > 0))) AS BIGINT) AS domain_tokens
      |  FROM documents GROUP BY source),
      |totals AS (
      |  SELECT CAST(sum(domain_tokens) AS BIGINT) AS total_tokens,
      |    count(*) AS n_domains
      |  FROM by_domain)
      |SELECT source, n_docs, domain_tokens,
      |  round(CAST(domain_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6) AS token_share,
      |  round(least(1.0, (CAST(total_tokens AS DOUBLE) / CAST(n_domains AS DOUBLE))
      |                   / CAST(domain_tokens AS DOUBLE)), 6) AS keep_prob
      |FROM by_domain, totals
      |ORDER BY source""".stripMargin

  /**
   * Apply the rebalancing plan: deterministic md5-bucket sampling at
   * each domain's keep_prob — the same engine-independent membership
   * rule as [[qSample]]. The plan frame broadcasts onto a pure map-side
   * filter; the corpus never shuffles and membership is identical on
   * any cluster layout. keep_prob = 1 keeps every row (the bucket
   * compare only applies below 1, so the 16-bit threshold can't
   * overflow its 4 hex digits).
   */
  def qMixApply(s: SparkSession, dir: String): DataFrame = {
    val plan = qMixRebalance(s, dir).select(col("source"),
      col("keep_prob"),
      lower(lpad(hex(floor(col("keep_prob") * 65536).cast("long")), 4, "0"))
        .as("threshold"))
    t(s, dir, "documents")
      .join(broadcast(plan), "source")
      .filter(col("keep_prob") >= 1.0 || hashBucket(col("doc_id")) < col("threshold"))
      .select(col("doc_id"), col("source"), col("keep_prob"))
      .orderBy(col("doc_id"))
  }

  val qMixApplySql: String =
    """WITH by_domain AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                             x -> length(x) > 0))) AS BIGINT) AS domain_tokens
      |  FROM documents GROUP BY source),
      |totals AS (
      |  SELECT CAST(sum(domain_tokens) AS BIGINT) AS total_tokens,
      |    count(*) AS n_domains
      |  FROM by_domain),
      |plan AS (
      |  SELECT source,
      |    round(least(1.0, (CAST(total_tokens AS DOUBLE) / CAST(n_domains AS DOUBLE))
      |                     / CAST(domain_tokens AS DOUBLE)), 6) AS keep_prob
      |  FROM by_domain, totals)
      |SELECT d.doc_id, d.source, p.keep_prob
      |FROM documents d JOIN plan p USING (source)
      |WHERE p.keep_prob >= 1.0
      |   OR substr(md5('graft:' || CAST(d.doc_id AS VARCHAR)), 1, 4) <
      |      printf('%04x', CAST(floor(p.keep_prob * 65536) AS BIGINT))
      |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Epoch shuffle: deterministic shard + position assignment
  // -------------------------------------------------------------------------

  /**
   * Deterministic epoch shuffle — the dataloader-layout step of a
   * training pipeline: every document gets a (shard, position) under a
   * seeded pseudo-random global order, reproducible on any engine and
   * any partitioning (md5 of the salted id, no RNG state). shard =
   * top-byte % n, position = 0-based rank within the shard by
   * (hash-key, doc_id).
   *
   * Scale design: the in-shard rank is a PREFIX SUM, not one giant
   * per-shard window — the hash top byte (0..255) is a lexicographic
   * PREFIX of the sort key, so ordering by (bucket, key) equals
   * ordering by key alone; the corpus ranks inside (bucket)-many
   * balanced partitions while per-bucket counts (≤ 256 rows) collapse
   * driver-small, turn into cumulative shard offsets, and broadcast
   * back: pos = bucket_offset + local_rank. Same decomposition
   * discipline as q_pack's two-pass token prefix sum; the corpus
   * shuffles once as ~30-byte rows (TEXT is never read — column
   * pruning keeps the scan to doc_id).
   */
  def qShard(s: SparkSession, dir: String, nShards: Int = 8): DataFrame =
    shardAssign(t(s, dir, "documents").select(col("doc_id")), nShards)
      .orderBy(col("doc_id"))

  /** The reusable core of [[qShard]] over any frame with a `doc_id`
    * column; other columns ride through. Returns the input columns +
    * (shard, pos). `reuseScan = true` persists the hashed frame so the
    * rank and offset consumers share one computation — worth it when
    * the INPUT frame is expensive to recompute (a long upstream
    * pipeline at 100 TB). Default `false`: recomputing a slim
    * doc_id-only scan + md5 twice measured faster at bench scale than
    * cache materialization a single-shot call never amortizes. */
  private val shardCache = new graft.operators.CacheSlot

  private[queries] def shardAssign(df: DataFrame, nShards: Int,
      reuseScan: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hm = md5(concat(lit("graft:ep0:"), col("doc_id").cast("string")).cast("binary"))
    val hashed = df
      .withColumn("hkey", substring(hm, 1, 8))
      .withColumn("bucket", conv(substring(col("hkey"), 1, 2), 16, 10).cast("int"))
      .withColumn("shard", pmod(col("bucket"), lit(nShards)))
    val base = if (reuseScan) shardCache.cache(hashed) else hashed
    val ranked = base.withColumn("rn", row_number().over(
      Window.partitionBy("bucket").orderBy("hkey", "doc_id")))
    val offs = base.groupBy("shard", "bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum("cnt").over(
        Window.partitionBy("shard").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("off"))
    ranked.join(broadcast(offs), Seq("bucket"))
      .withColumn("pos", (col("off") + col("rn") - 1).cast("long"))
      .drop("hkey", "bucket", "rn", "off")
  }

  /** Oracle = the SPEC the prefix-sum path implements: pos is the
    * 0-based rank within shard under (hkey, doc_id) — stated as ONE
    * global window; agreement proves the bucket decomposition composes
    * to exactly that order. */
  val qShardSql: String =
    """WITH h AS (
      |  SELECT doc_id, substr(md5('graft:ep0:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hkey
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, hkey,
      |    ((strpos('0123456789abcdef', substr(hkey, 1, 1)) - 1) * 16
      |     + (strpos('0123456789abcdef', substr(hkey, 2, 1)) - 1)) % 8 AS shard
      |  FROM h)
      |SELECT doc_id, CAST(shard AS INT) AS shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hkey, doc_id) - 1
      |    AS BIGINT) AS pos
      |FROM b ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // End-to-end curation pipeline
  // -------------------------------------------------------------------------

  /**
   * The composed pipeline a training-data run actually executes, as ONE
   * DataFrame program: quality gate → exact dedup among survivors →
   * epoch shard/position assignment of the final kept set. Each stage
   * reuses the exact semantics of its standalone operator — the quality
   * thresholds are [[graft.queries.TextQueries.KeepMinTokens]] /
   * `KeepMinTtr` (shared constants, interpolated into the oracle so the
   * engines cannot drift), dedup keys on md5(lower(trim(text))) like
   * `dedup_exact`, and sharding is [[shardAssign]] — so the oracle
   * checks COMPOSITION: filters feeding windows feeding the prefix-sum
   * rank, one plan, three stages, no intermediate materialization.
   *
   * Scale shape: stage 1 is a map-side filter at scan speed; stage 2
   * shuffles (fingerprint, doc_id, lang) only — never text; stage 3 is
   * the bucket-decomposed rank over the (small) survivor frame.
   */
  def qPipeline(s: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = filter(split(lower(trim(col("text"))), "\\s+"), t => length(t) > 0)
    val quality = t(s, dir, "documents")
      .filter(size(tk) >= graft.queries.TextQueries.KeepMinTokens &&
        round(size(array_distinct(tk)).cast("double") / size(tk), 4)
          >= graft.queries.TextQueries.KeepMinTtr)
      .select(col("doc_id"), col("lang"), md5(lower(trim(col("text")))).as("fp"))
    val survivors = quality
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("lang"))
    shardAssign(survivors, nShards)
      .select(col("doc_id"), col("lang"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }

  /** Every stage replayed in DuckDB with the same shared constants. */
  val qPipelineSql: String = {
    val minTok = graft.queries.TextQueries.KeepMinTokens
    val minTtr = graft.queries.TextQueries.KeepMinTtr
    s"""WITH q AS (
       |  SELECT doc_id, lang, text,
       |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                x -> length(x) > 0) AS tk
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, lang, text FROM q
       |  WHERE len(tk) >= $minTok
       |    AND round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 4) >= $minTtr),
       |d AS (
       |  SELECT doc_id, lang,
       |    min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keep_id
       |  FROM g),
       |sv AS (SELECT doc_id, lang FROM d WHERE doc_id = keep_id),
       |b AS (
       |  SELECT doc_id, lang,
       |    substr(md5('graft:ep0:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hkey,
       |    ((strpos('0123456789abcdef',
       |        substr(md5('graft:ep0:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       |     + (strpos('0123456789abcdef',
       |        substr(md5('graft:ep0:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 8
       |      AS shard
       |  FROM sv)
       |SELECT doc_id, lang, CAST(shard AS INT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hkey, doc_id) - 1
       |    AS BIGINT) AS pos
       |FROM b ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Embedding PCA (top principal component, exact-replay oracle)
  // -------------------------------------------------------------------------

  /**
   * Top-principal-component scoring of the embeddings table — the
   * whitening/projection primitive ahead of SemDeDup-style curation
   * (score along the dominant variance axis; also the 1-D special case
   * of the OPQ rotation machinery in PqIndex, here with a bit-match
   * oracle). Three distributed passes + a driver-side 64×64 power
   * iteration:
   *
   *  1. exact integer micro mean (map-side `vec_micros` + `vec_lsum`
   *     partials — order-free, so engine-identical);
   *  2. exact integer scatter matrix: per-row centered outer product
   *     (native [[graft.functions.OuterMicroCentered]] kernel, dim²
   *     longs/row) summed by the same partial aggregate — row terms ≤
   *     10¹⁶ keep the 2⁶³ headroom to ~10⁸ rows;
   *  3. power iteration on the collected 64×64 matrix (driver doubles,
   *     fixed 8 iterations, fixed fold order — the oracle replays the
   *     IDENTICAL IEEE sequence, so v is bit-equal), then a map-side
   *     projection pass ([[graft.functions.ProjectMicroCentered]]).
   *
   * Driver state is dim² longs (32 KB) — the corpus never collects.
   */
  def embPca(s: SparkSession, dir: String, iters: Int = 8): DataFrame = {
    registerAll(s)
    import org.apache.spark.sql.GraftSqlBridge.{column => bcol, expression => bexpr}
    val dim = 64
    val emb = t(s, dir, "embeddings")
    val mr = emb.select(vec_micros(col("embedding")).as("iv"))
      .agg(vec_lsum(col("iv"), dim).as("s"), count(lit(1)).as("n")).head()
    val n = mr.getLong(1)
    val mean = mr.getSeq[Long](0).toArray
      .map(sv => graft.functions.SketchUtil.halfAway(sv.toDouble / n))
    val scat = emb
      .select(bcol(graft.functions.OuterMicroCentered(
        bexpr(col("embedding")), mean, dim)).as("o"))
      .agg(vec_lsum(col("o"), dim * dim).as("s")).head()
      .getSeq[Long](0).toArray
    val v = powerIterate(scat, dim, iters)
    emb.select(col("vec_id"),
      round(bcol(graft.functions.ProjectMicroCentered(
        bexpr(col("embedding")), mean, v, dim)), 4).as("pc1"))
      .orderBy(col("vec_id"))
  }

  /** Fixed-order power iteration: v₀ = (1/8, …); each pass w = S·v
    * (k-ascending fold from 0.0), v = w / ‖w‖ (j-ascending norm fold).
    * Every double op is sequenced so the oracle can replay it. */
  private def powerIterate(scat: Array[Long], dim: Int,
      iters: Int): Array[Double] = {
    var v = Array.fill(dim)(0.125)
    var it = 0
    while (it < iters) {
      val w = new Array[Double](dim)
      var j = 0
      while (j < dim) {
        var acc = 0.0
        val off = j * dim
        var k = 0
        while (k < dim) { acc += scat(off + k).toDouble * v(k); k += 1 }
        w(j) = acc
        j += 1
      }
      var nrm2 = 0.0
      j = 0
      while (j < dim) { nrm2 += w(j) * w(j); j += 1 }
      val nrm = math.sqrt(nrm2)
      j = 0
      while (j < dim) { w(j) = w(j) / nrm; j += 1 }
      v = w
      it += 1
    }
    v
  }

  /** The identical three passes + 8 power iterations in DuckDB: micro
    * rounding and integer mean/scatter exactly as the kernels compute
    * them (order-free integer sums), then each iteration's matvec /
    * norm / divide as the SAME left-fold double sequence
    * ([[powerIterate]]), then the same projection fold. */
  val embPcaSql: String = {
    val matvec =
      """list_transform(generate_series(1, 64), j ->
        |      list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64), k ->
        |        CAST(sm[(j - 1) * 64 + k] AS DOUBLE) * vv[k])), (a, b) -> a + b))""".stripMargin
    val iterCtes = (1 to 8).map { i =>
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""w$i AS (
         |  SELECT $matvec AS wv FROM $prev, smat),
         |v$i AS (
         |  SELECT list_transform(wv, x -> x / sqrt(
         |    list_reduce(list_prepend(0.0, list_transform(wv, y -> y * y)),
         |                (a, b) -> a + b))) AS vv
         |  FROM w$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |                   x -> CAST(round(x * 1000000, 0) AS BIGINT)) AS iv
       |  FROM embeddings),
       |dims AS (SELECT unnest(generate_series(1, 64)) AS d),
       |msum AS (
       |  SELECT dims.d, CAST(sum(iv[dims.d]) AS BIGINT) AS s, count(*) AS n
       |  FROM e CROSS JOIN dims GROUP BY dims.d),
       |m AS (
       |  SELECT list(CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT) ORDER BY d) AS mv
       |  FROM msum),
       |ce AS (
       |  SELECT vec_id,
       |    list_transform(generate_series(1, 64), d -> iv[d] - mv[d]) AS cv
       |  FROM e, m),
       |sc AS (
       |  SELECT j.d AS j, k.d AS k, CAST(sum(cv[j.d] * cv[k.d]) AS BIGINT) AS s
       |  FROM ce CROSS JOIN dims j CROSS JOIN dims k
       |  GROUP BY j.d, k.d),
       |smat AS (SELECT list(s ORDER BY j, k) AS sm FROM sc),
       |v0 AS (SELECT list_transform(generate_series(1, 64), x -> 0.125) AS vv),
       |$iterCtes
       |SELECT vec_id,
       |  round(list_reduce(list_prepend(0.0,
       |      list_transform(generate_series(1, 64), j ->
       |        CAST(cv[j] AS DOUBLE) * vv[j])), (a, b) -> a + b) / 1000000.0, 4)
       |    AS pc1
       |FROM ce, v8
       |ORDER BY vec_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Embedding k-means (SemDeDup-style corpus clustering)
  // -------------------------------------------------------------------------

  /**
   * Deterministic k-means over the embeddings table — the clustering
   * half of SemDeDup-style curation (Abbas et al. 2023: cluster the
   * corpus, then dedup/diversify WITHIN clusters) and the generic
   * "partition the corpus semantically" primitive (topic bucketing,
   * stratified curation, IVF list design).
   *
   * Bit-match determinism for an ITERATIVE algorithm: every embedding
   * is rounded ONCE to integer micro-units (round-half-away ×10⁶ —
   * [[graft.functions.SketchUtil.vecMicros]]), after which every
   * distance and every centroid sum is exact long arithmetic —
   * aggregation-order-independent, so the result is identical across
   * partitionings, cluster sizes, AND engines (the DuckDB oracle runs
   * the same iterations down to the bit). A double-accumulating
   * k-means could never make that promise. Init = the first `k`
   * vectors by id (deterministic, oracle-shared); empty clusters keep
   * their previous centroid.
   *
   * Scale shape per iteration: one corpus scan; assignment is the
   * codegen'd [[graft.functions.NearestCentroid]] kernel against
   * broadcast (plan-literal) centroids; the centroid update
   * PARTIAL-aggregates map-side via [[graft.functions.LongVecSum]], so
   * the shuffle carries k × dim longs per partition — the textbook
   * distributed Lloyd step. Driver state is k × dim longs.
   */
  def embKmeans(s: SparkSession, dir: String, k: Int = 8,
      iters: Int = 2): DataFrame = {
    registerAll(s)
    import org.apache.spark.sql.GraftSqlBridge.{column => bcol, expression => bexpr}
    val emb = t(s, dir, "embeddings")
    val (cent, dim) = lloydCentroids(emb, k, iters)
    emb.select(col("vec_id"),
      bcol(graft.functions.NearestCentroid(
        bexpr(col("embedding")), cent, dim)).as("a"))
      .select(col("vec_id"),
        col("a.cluster").as("cluster"), col("a.d2").as("d2"))
      .orderBy(col("vec_id"))
  }

  /** [[embKmeans]] with fixpoint stopping: iterates the exact integer
    * Lloyd loop until the centroid matrix stops moving (zero micro-unit
    * delta) or `maxIters` passes ([[lloydCentroidsConverged]]) — the
    * production path where the pass count isn't known up front. Same
    * bit-match determinism: the stopping rule compares longs, so the
    * pass at which it fires is engine- and partitioning-independent. */
  def embKmeansConverged(s: SparkSession, dir: String, k: Int = 8,
      maxIters: Int = 20): DataFrame = {
    registerAll(s)
    import org.apache.spark.sql.GraftSqlBridge.{column => bcol, expression => bexpr}
    val emb = t(s, dir, "embeddings")
    val (cent, dim, _) = lloydCentroidsConverged(emb, k, maxIters)
    emb.select(col("vec_id"),
      bcol(graft.functions.NearestCentroid(
        bexpr(col("embedding")), cent, dim)).as("a"))
      .select(col("vec_id"),
        col("a.cluster").as("cluster"), col("a.d2").as("d2"))
      .orderBy(col("vec_id"))
  }

  /** The exact integer Lloyd loop of [[embKmeans]], reusable over any
    * (vec_id, embedding) corpus (also feeds [[dedupSemantic]]): init =
    * the first `k` vectors by id, `iters − 1` update passes, empty
    * clusters keep their previous centroid. Returns the final flattened
    * k × dim centroid matrix (micro-units) and dim. Driver state is
    * k × dim longs; each pass is one corpus scan whose shuffle carries
    * k × dim longs per partition (map-side [[graft.functions.LongVecSum]]
    * partials). */
  private[queries] def lloydCentroids(emb: DataFrame, k: Int,
      iters: Int): (Array[Long], Int) = {
    val (cent, dim, _) = lloydCentroidsConverged(emb, k, maxIters = iters,
      stopOnFixpoint = false)
    (cent, dim)
  }

  /**
   * Production variant of the exact integer Lloyd loop: runs until the
   * centroid matrix reaches a FIXPOINT (zero delta in micro units — an
   * exact long comparison, so the stopping rule is deterministic and
   * oracle-replayable, unlike any epsilon-on-doubles test) or `maxIters`
   * passes, whichever is first. Returns (centroids, dim, itersRun).
   *
   * `stopOnFixpoint=false` reproduces [[lloydCentroids]]' fixed-pass
   * contract bit-for-bit (the gate oracles replay exactly `maxIters`
   * passes). Production SemDeDup sizing: k ≈ N/⟨target cluster size⟩
   * (e.g. 50 k clusters for a 440 M corpus); per pass the shuffle
   * carries k × dim longs per partition and driver state is k × dim
   * longs, so large k costs driver memory linearly — 50 k × 64 longs
   * = 25 MB, fine; the iteration cap bounds wall-clock when clusters
   * oscillate (integer Lloyd can 2-cycle; the cap is the guard).
   */
  private[graft] def lloydCentroidsConverged(emb: DataFrame, k: Int,
      maxIters: Int, stopOnFixpoint: Boolean = true): (Array[Long], Int, Int) = {
    import org.apache.spark.sql.GraftSqlBridge.{column => bcol, expression => bexpr}
    val init = emb.filter(col("vec_id") < k).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(init.length == k, s"lloydCentroids: corpus has < $k vectors")
    val dim = init.head.length
    var cent: Array[Long] = init.flatMap(v =>
      v.map(x => graft.functions.SketchUtil.halfAway(x.toDouble * 1e6)))
    def assignCol = bcol(graft.functions.NearestCentroid(
      bexpr(col("embedding")), cent, dim))
    var iter = 1
    var converged = false
    while (iter < maxIters && !converged) {
      val sums = emb
        .select(assignCol.getField("cluster").as("cluster"),
          vec_micros(col("embedding")).as("iv"))
        .groupBy(col("cluster"))
        .agg(vec_lsum(col("iv"), dim).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cent.clone()
      sums.foreach { r =>
        val cl = r.getInt(0)
        val sv = r.getSeq[Long](1)
        val n = r.getLong(2)
        var i = 0
        while (i < dim) {
          // exact: |s| ≤ 10⁶·|corpus| < 2⁵³, so s.toDouble is lossless
          next(cl * dim + i) =
            graft.functions.SketchUtil.halfAway(sv(i).toDouble / n)
          i += 1
        }
      }
      if (stopOnFixpoint && java.util.Arrays.equals(next, cent)) converged = true
      cent = next
      iter += 1
    }
    (cent, dim, iter)
  }

  /**
   * SemDeDup (Abbas et al. 2023): semantic deduplication = cluster the
   * corpus, then WITHIN each cluster drop every vector that has a
   * preferred ε-duplicate — the full pipeline whose clustering half is
   * [[embKmeans]]. The corpus is the embeddings table plus the same
   * deterministic derived slices the other embedding-dedup gates plant
   * ([[DedupQueries.derivedCopies]] — exact copies and one-component
   * perturbations), so the gate exercises real drops.
   *
   * Semantics (all EXACT integer math, so the DuckDB oracle replays
   * every verdict bit-for-bit):
   *  - cluster/d2 from the shared micro-unit Lloyd loop
   *    ([[lloydCentroids]] over the union corpus);
   *  - x is DROPPED iff some y in its cluster has
   *    `cos(x, y) ≥ num/den` (decided by the codegen'd
   *    [[graft.functions.SimMicroAtLeast]] kernel — no division, no
   *    sqrt, 128-bit exact compare) and y is PREFERRED: larger d2
   *    (SemDeDup keeps the example farthest from the centroid —
   *    the diversity-preserving choice), ties to the smaller vec_id.
   *
   * Scale shape: pairwise similarity runs ONLY within clusters — the
   * self-join shuffles on `cluster`, never all-pairs. Cluster size is
   * the work unit: production SemDeDup scales k with the corpus
   * (k ≈ N/⟨target cluster size⟩, e.g. 50 k clusters for LAION-440M),
   * so per-cluster pairs stay bounded and the cluster key fans out
   * across executors; the gate's k=8 is the same plan at toy scale.
   * The drop decision per pair is one primitive-long loop inside
   * whole-stage codegen.
   */
  def dedupSemantic(s: SparkSession, dir: String, k: Int = 8,
      iters: Int = 2, num: Int = 19, den: Int = 20): DataFrame = {
    registerAll(s)
    import org.apache.spark.sql.GraftSqlBridge.{column => bcol, expression => bexpr}
    val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = base.unionByName(DedupQueries.derivedCopies(base))
    val (cent, dim) = lloydCentroids(corpus, k, iters)
    val asg = corpus
      .select(col("vec_id"),
        bcol(graft.functions.NearestCentroid(
          bexpr(col("embedding")), cent, dim)).as("a"),
        vec_micros(col("embedding")).as("iv"))
      .select(col("vec_id"), col("a.cluster").as("cluster"),
        col("a.d2").as("d2"), col("iv"))
    val y = asg.select(col("vec_id").as("y_id"), col("cluster").as("y_cluster"),
      col("d2").as("y_d2"), col("iv").as("y_iv"))
    val dropped = asg.join(y,
        col("cluster") === col("y_cluster") &&
          (col("y_d2") > col("d2") ||
            (col("y_d2") === col("d2") && col("y_id") < col("vec_id"))) &&
          sim_micro_ge(col("iv"), col("y_iv"), num, den),
        "left_semi")
      .select(col("vec_id"), lit(true).as("is_dropped"))
    asg.select(col("vec_id"), col("cluster"), col("d2"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("d2"),
        coalesce(!col("is_dropped"), lit(true)).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** The identical Lloyd iterations in DuckDB (k = 8, 64 dims, 2
    * passes) over a `corpus(vec_id, embedding)` CTE the caller
    * provides: same micro-unit rounding (round(x·10⁶, 0) — DuckDB's
    * round is half-away-from-zero like the kernel's), integer
    * distances, integer centroid sums, round-half-away centroid means,
    * empty clusters carried over. Everything after the rounding is
    * integer-exact, so the engines cannot drift. Emits CTEs `e`
    * (micro vectors) and `a2` (final assignment: vec_id, cl, d2).
    * ONE generator feeds both [[embKmeansSql]] and
    * [[dedupSemanticSql]], so the replayed clustering can't diverge
    * between the two oracles. */
  private def kmeansCtes: String = {
    def dist(iv: String, civ: String): String =
      s"""list_sum(list_transform(generate_series(1, 64),
         |      d -> ($iv[d] - $civ[d]) * ($iv[d] - $civ[d])))""".stripMargin
    s"""e AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |                   x -> CAST(round(x * 1000000, 0) AS BIGINT)) AS iv
       |  FROM corpus),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cl, iv AS civ FROM e WHERE vec_id < 8),
       |d1 AS (
       |  SELECT e.vec_id, c0.cl, ${dist("e.iv", "c0.civ")} AS d2
       |  FROM e CROSS JOIN c0),
       |a1 AS (
       |  SELECT vec_id, cl FROM (
       |    SELECT vec_id, cl,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM d1) WHERE rn = 1),
       |dims AS (SELECT unnest(generate_series(1, 64)) AS d),
       |sums AS (
       |  SELECT a1.cl, dims.d, CAST(sum(e.iv[dims.d]) AS BIGINT) AS s,
       |    count(*) AS n
       |  FROM a1 JOIN e USING (vec_id) CROSS JOIN dims
       |  GROUP BY a1.cl, dims.d),
       |c1m AS (
       |  SELECT cl,
       |    list(CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT) ORDER BY d) AS civ
       |  FROM sums GROUP BY cl),
       |c1 AS (
       |  SELECT c0.cl, coalesce(c1m.civ, c0.civ) AS civ
       |  FROM c0 LEFT JOIN c1m USING (cl)),
       |d2t AS (
       |  SELECT e.vec_id, c1.cl, ${dist("e.iv", "c1.civ")} AS d2
       |  FROM e CROSS JOIN c1),
       |a2 AS (
       |  SELECT vec_id, cl, CAST(d2 AS BIGINT) AS d2 FROM (
       |    SELECT vec_id, cl, d2,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM d2t) WHERE rn = 1)""".stripMargin
  }

  val embKmeansSql: String =
    """WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
      |""".stripMargin + kmeansCtes + """
      |SELECT vec_id, cl AS cluster, d2 FROM a2
      |ORDER BY vec_id""".stripMargin

  /** [[dedupSemantic]] replayed end-to-end: the same derived corpus as
    * the other embedding-dedup oracles, the same integer Lloyd CTEs
    * ([[kmeansCtes]]), then every within-cluster preferred pair is
    * tested with the identical division-free threshold —
    * `(20·dot)² ≥ 361·‖x‖²·‖y‖²` in HUGEINT (128-bit) arithmetic, the
    * exact compare [[graft.functions.SketchUtil.simMicroAtLeast]] does
    * in BigInteger. Bit-for-bit, not approximately. */
  val dedupSemanticSql: String =
    """WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 25 = 0
      |  UNION ALL
      |  SELECT vec_id + 2000000,
      |    [CASE WHEN i = 1 THEN CAST(embedding[i] + 0.25 AS FLOAT)
      |          ELSE embedding[i] END FOR i IN range(1, 65)]
      |  FROM embeddings WHERE vec_id % 40 = 7),
      |""".stripMargin + kmeansCtes + """,
      |p AS (
      |  SELECT x.vec_id AS xv,
      |    list_sum(list_transform(generate_series(1, 64), d -> ex.iv[d] * ey.iv[d])) AS dot,
      |    list_sum(list_transform(generate_series(1, 64), d -> ex.iv[d] * ex.iv[d])) AS nx2,
      |    list_sum(list_transform(generate_series(1, 64), d -> ey.iv[d] * ey.iv[d])) AS ny2
      |  FROM a2 x JOIN a2 y ON x.cl = y.cl
      |    AND (y.d2 > x.d2 OR (y.d2 = x.d2 AND y.vec_id < x.vec_id))
      |  JOIN e ex ON ex.vec_id = x.vec_id
      |  JOIN e ey ON ey.vec_id = y.vec_id),
      |dropped AS (
      |  SELECT DISTINCT xv AS vec_id FROM p
      |  WHERE nx2 > 0 AND ny2 > 0 AND dot >= 0
      |    AND CAST(20 AS HUGEINT) * dot * 20 * dot
      |        >= CAST(361 AS HUGEINT) * nx2 * ny2)
      |SELECT a.vec_id, a.cl AS cluster, a.d2, (dr.vec_id IS NULL) AS keep
      |FROM a2 a LEFT JOIN dropped dr USING (vec_id)
      |ORDER BY a.vec_id""".stripMargin

  // -------------------------------------------------------------------------
  // DSIR: data selection via importance resampling
  // -------------------------------------------------------------------------

  /**
   * Data Selection via Importance Resampling (Xie et al., NeurIPS 2023)
   * — the modern "make the raw crawl look like the curated target"
   * selection step. Each document scores
   * `log w(x) = Σ_b φ(x)[b]·(ln θ_t[b] − ln θ_r[b])` where φ is the
   * hashed-unigram bucket-count feature map
   * ([[graft.functions.TokBuckets]] — the same murmur3 bucket map as
   * hash_embed, `dim` buckets standing in for the paper's 10⁴ hashed
   * n-grams) and θ_t/θ_r are Laplace-smoothed bucket LMs of the target
   * and raw corpora; the selected set is the Gumbel top-`n` (sampling
   * WITHOUT replacement from the importance distribution — the paper's
   * sampler) with deterministic per-document Gumbel noise keyed by
   * xxhash64(doc_id). Target here = the `lang = targetLang` slice (a
   * metadata-labeled curated subset standing in for Wikipedia/books).
   *
   * Scale shape: ONE corpus scan computes φ map-side and
   * partial-aggregates the two `dim`-long count vectors
   * ([[graft.functions.LongVecSum]] — dim longs per partition, the
   * Lloyd-step shuffle shape); λ is `dim` doubles on the driver,
   * broadcast back as a plan literal into a second map-side scan that
   * scores and Gumbel-keys every row; the only corpus-wide movement is
   * the TakeOrdered top-`n` cut (per-partition heaps). At 100 TB the
   * target LM typically comes from a separate small curated corpus
   * (swap any (text) frame in) and φ(x) can be persisted at ingest.
   *
   * Sizing note: with `dim` = 64 on the tiny synthetic corpus the
   * log-weight spread (~0.25) is small against the Gumbel noise's
   * fixed 1.28 std, so the sampled selection is noise-heavy (the spec
   * asserts enrichment on the noise-free weight ranking); the paper's
   * regime — 10⁴ hashed n-grams on real text — yields log-ratio
   * spreads that dominate the noise. `dim` is the knob.
   *
   * Determinism: counts/totals are exact longs; λ uses ln (engine
   * parity established by text_surprisal/text_bigram); the Gumbel
   * uniform is `xxhash64(doc_id)/2⁶⁴ + ½` (signed→double casts round
   * to nearest in both engines; the divisor is a power of two, so the
   * scaling is exact); scoring folds buckets in ascending order on
   * both sides ([[graft.functions.LongVecDot]] vs the oracle's seeded
   * list_reduce).
   */
  def qDsir(s: SparkSession, dir: String, n: Int = 100, dim: Int = 64,
      targetLang: String = "en"): DataFrame = {
    registerAll(s)
    val docs = t(s, dir, "documents")
    dsirScoreBody(docs, dsirLambda(docs, dim, targetLang), dim)
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(n)
  }

  /** Train the DSIR log-ratio weights on a static corpus: one scan,
    * two `dim`-long count vectors (map-side [[graft.functions.LongVecSum]]
    * partials), Laplace-smoothed log ratios on the driver. */
  private[graft] def dsirLambda(docs: DataFrame, dim: Int,
      targetLang: String): Array[Double] = {
    import org.apache.spark.sql.GraftSqlBridge.{column => bcol, expression => bexpr}
    registerAll(docs.sparkSession)
    // null-safe: a NULL lang row belongs to the raw (non-target) slice
    // — `===` would put it in a null group and crash getBoolean
    val totals = docs
      .select((col("lang") <=> lit(targetLang)).as("is_t"),
        bcol(graft.functions.TokBuckets(bexpr(col("text")), dim)).as("cnt"))
      .groupBy(col("is_t"))
      .agg(vec_lsum(col("cnt"), dim).as("s"))
      .collect()
      .map(r => r.getBoolean(0) -> r.getSeq[Long](1).toArray)
      .toMap
    val zero = Array.fill(dim)(0L)
    val tCnt = totals.getOrElse(true, zero)
    val oCnt = totals.getOrElse(false, zero)
    val rCnt = Array.tabulate(dim)(b => tCnt(b) + oCnt(b))
    val tTot = tCnt.sum.toDouble
    val rTot = rCnt.sum.toDouble
    Array.tabulate(dim)(b =>
      math.log((tCnt(b) + 1.0) / (tTot + dim)) -
        math.log((rCnt(b) + 1.0) / (rTot + dim)))
  }

  /** Clamped hash uniform in (0, 1): `xxhash64(x)/2⁶⁴ + ½`, clamped to
    * [2⁻⁶⁴, 1−2⁻⁵³] so `log` can never split between engines at the
    * hash edges — ONE definition for every hash-seeded noise source
    * (DSIR Gumbel, DP Laplace, bootstrap Poisson). */
  private[graft] def hashUniform(x: Column): Column =
    greatest(least(
      xxhash64(x).cast("double") / lit(18446744073709551616.0) + lit(0.5),
      lit(0.9999999999999999)), lit(5.421010862427522e-20))

  /** The map-side DSIR scoring pass shared by the batch operator and
    * the streaming gate ([[graft.streaming.StreamOps.dsirStream]]):
    * per-doc log importance weight (`vec_ldot` over [[graft.functions.TokBuckets]]
    * counts against the plan-literal λ) plus the deterministic Gumbel
    * key. Pure per-row column math — no shuffle, no state, so it runs
    * unchanged under Structured Streaming. */
  private[graft] def dsirScoreBody(docs: DataFrame, lambda: Array[Double],
      dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{column => bcol, expression => bexpr}
    // clamped to [2⁻⁶⁴, 1−2⁻⁵³]: at the (probability ~2⁻⁵⁵) hash edges
    // u could round to exactly 0 or 1, where Spark's log returns NULL
    // but DuckDB's ln returns ±inf — the clamp closes that split with
    // the identical greatest/least double arithmetic on both sides
    val u = hashUniform(col("doc_id").cast("string"))
    docs
      .select(col("doc_id"),
        bcol(graft.functions.LongVecDot(
          graft.functions.TokBuckets(bexpr(col("text")), dim), lambda)).as("lw"),
        u.as("u"))
      .select(col("doc_id"),
        round(col("lw"), 4).as("log_weight"),
        round(col("lw") - log(-log(col("u"))), 4).as("gumbel_key"))
  }

  /** Full hash-match oracle for [[qDsir]]: bucket counts from the
    * murmur3 token chain (prefix `m` so it coexists with the xxhash64
    * chain's CTE names), both LMs + λ recomputed in SQL from exact
    * integer counts, the per-doc score as a 0-seeded ascending-bucket
    * list_reduce (the kernel's fold order), the Gumbel uniform from
    * the xxhash64 transcription via the signed-cast discipline, and
    * the rounded top-n cut. */
  lazy val qDsirSql: String = {
    val toSigned = DedupQueries.toSignedSql
    s"WITH ${AnnQueries.murmurFmCtes("m")},\n" +
      s"""hv AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS tk FROM documents),
         |tok AS (SELECT tk FROM hv),
         |""".stripMargin + DedupQueries.xxHashTokenCtes + ",\n" +
      s"""bc AS (SELECT doc_id, (h & 63)::INT AS b, COUNT(*)::BIGINT AS n
         |  FROM mfm GROUP BY 1, 2),
         |tc AS (SELECT b, SUM(n)::BIGINT AS tn FROM bc
         |  JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY 1),
         |rc AS (SELECT b, SUM(n)::BIGINT AS rn FROM bc GROUP BY 1),
         |tot AS (SELECT (SELECT coalesce(SUM(tn), 0) FROM tc) AS tt,
         |               (SELECT coalesce(SUM(rn), 0) FROM rc) AS rt),
         |lam AS (SELECT b.b,
         |    ln((coalesce(tc.tn, 0) + 1.0) / (tot.tt + 64.0))
         |  - ln((coalesce(rc.rn, 0) + 1.0) / (tot.rt + 64.0)) AS l
         |  FROM range(0, 64) b(b)
         |  LEFT JOIN tc ON tc.b = b.b
         |  LEFT JOIN rc ON rc.b = b.b, tot),
         |lamm AS (SELECT map_from_entries(list(struct_pack(k := b, v := l))) AS lm
         |  FROM lam),
         |bm AS (SELECT doc_id,
         |  map_from_entries(list(struct_pack(k := b, v := n))) AS m
         |  FROM bc GROUP BY doc_id),
         |lw AS (SELECT d.doc_id,
         |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(0, 64), b ->
         |    coalesce(map_extract(bm.m, b::INT)[1], 0) *
         |    coalesce(map_extract(lamm.lm, b::INT)[1], 0.0::DOUBLE))),
         |    (a, x) -> a + x) AS w
         |  FROM documents d LEFT JOIN bm USING (doc_id), lamm),
         |gum AS (SELECT hv.doc_id,
         |  GREATEST(LEAST(
         |    CAST($toSigned AS DOUBLE) / 18446744073709551616.0 + 0.5,
         |    0.9999999999999999), 5.421010862427522e-20) AS u
         |  FROM hv JOIN hashed USING (tk))
         |SELECT l.doc_id, ROUND(l.w, 4) AS log_weight,
         |  ROUND(l.w - ln(-ln(g.u)), 4) AS gumbel_key
         |FROM lw l JOIN gum g USING (doc_id)
         |ORDER BY gumbel_key DESC, l.doc_id
         |LIMIT 100""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Embedding-space outlier pruning
  // -------------------------------------------------------------------------

  /**
   * Embedding outlier detection — the curation complement of SemDeDup:
   * where [[dedupSemantic]] prunes points too CLOSE together,
   * this flags points too FAR from their region of embedding space
   * (mis-embedded docs, garbage pages, encoding wrecks): cluster with
   * the exact integer Lloyd loop ([[lloydCentroids]] — the SAME
   * machinery as `emb_kmeans`/`dedup_semantic`, bit-deterministic),
   * then flag every vector whose exact integer distance-to-centroid
   * exceeds its cluster's 95th percentile.
   *
   * Scale notes: assignment is the codegen'd broadcast-centroid kernel
   * (one scan); the threshold pass buffers per-CLUSTER distance values
   * in the exact `percentile` aggregate — k groups, fine at gate scale;
   * at 100 TB a per-cluster value histogram would bound that buffer.
   * The assignment frame is used
   * by both the threshold and the flag pass (two scans — the same
   * deliberate recompute-over-buffer trade as `text_keywords`).
   *
   * Determinism: distances are exact longs, the percentile
   * interpolation is the proven `percentile`/`quantile_cont` parity,
   * the gate is a strict `>` on doubles — full hash
   * oracle extending the shared Lloyd CTEs.
   */
  def embOutliers(s: SparkSession, dir: String, k: Int = 8, iters: Int = 2,
      q: Double = 0.95): DataFrame =
    embOutliersBody(t(s, dir, "embeddings"), s, k, iters, q)

  /** Body over any (vec_id, embedding) corpus — the spec plants a far
    * vector through this. */
  private[graft] def embOutliersBody(emb: DataFrame, s: SparkSession,
      k: Int, iters: Int, q: Double): DataFrame = {
    registerAll(s)
    import org.apache.spark.sql.GraftSqlBridge.{column => bcol, expression => bexpr}
    val (cent, dim) = lloydCentroids(emb, k, iters)
    val assigned = emb.select(col("vec_id"),
        bcol(graft.functions.NearestCentroid(
          bexpr(col("embedding")), cent, dim)).as("a"))
      .select(col("vec_id"),
        col("a.cluster").as("cluster"), col("a.d2").as("d2"))
    val thr = assigned.groupBy(col("cluster"))
      .agg(expr(s"percentile(d2, $q)").as("p95"))
    assigned.join(thr, "cluster")
      .filter(col("d2").cast("double") > col("p95"))
      .select(col("vec_id"), col("cluster"), col("d2"))
      .orderBy(col("vec_id"))
  }

  /** [[embOutliers]] replayed: the shared Lloyd CTEs, then the
    * per-cluster continuous quantile and the strict gate. */
  val embOutliersSql: String =
    """WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
      |""".stripMargin + kmeansCtes + """,
      |thr AS (
      |  SELECT cl, quantile_cont(CAST(d2 AS DOUBLE), 0.95) AS p95
      |  FROM a2 GROUP BY cl)
      |SELECT a2.vec_id, a2.cl AS cluster, a2.d2
      |FROM a2 JOIN thr USING (cl)
      |WHERE CAST(a2.d2 AS DOUBLE) > thr.p95
      |ORDER BY a2.vec_id""".stripMargin

  // -------------------------------------------------------------------------
  // Embedding-distribution drift between slices
  // -------------------------------------------------------------------------

  /**
   * Per-dimension embedding health audit (r8) — the first check a
   * vector-store migration or model swap runs: per dimension, the
   * corpus mean, variance, and nonzero fraction, with a low-variance
   * flag. Dead dims (truncation bugs, bad casts), collapsed dims
   * (over-regularized training), and anisotropy (a few dims carrying
   * all the norm — the reason whitening/OPQ exist) are all visible in
   * this 64-row frame.
   *
   * Scale: ONE partial-aggregated pass — `vec_micros` rounds once to
   * integer micro-units, three `vec_lsum` element-wise long vectors
   * (Σx, Σx², #nonzero — 3·dim longs per partition cross the shuffle),
   * then 64 rows of driver-free column math. Σx² row terms ≤ 10¹²
   * keep 2⁶³ headroom to ~10⁹ rows (the emb_pca bound). Mean/variance
   * derive in ONE fixed double-op order mirrored by the oracle, so
   * the row hash-matches.
   */
  def embDims(s: SparkSession, dir: String): DataFrame = {
    registerAll(s)
    val dim = 64
    val agg = t(s, dir, "embeddings")
      .select(vec_micros(col("embedding")).as("iv"))
      .select(col("iv"),
        expr("transform(iv, x -> x * x)").as("iv2"),
        expr("transform(iv, x -> CAST(IF(x != 0, 1, 0) AS BIGINT))").as("nz"))
      .agg(vec_lsum(col("iv"), dim).as("s"),
        vec_lsum(col("iv2"), dim).as("s2"),
        vec_lsum(col("nz"), dim).as("zn"),
        count(lit(1)).as("n"))
    val mean = col("sv").cast("double") / col("n") / lit(1e6)
    val variance = (col("s2v").cast("double") -
      col("sv").cast("double") * col("sv").cast("double") / col("n")) /
      col("n") / lit(1e12)
    agg
      .select(posexplode(col("s")).as(Seq("d0", "sv")),
        col("s2"), col("zn"), col("n"))
      .select(col("d0"), col("sv"),
        element_at(col("s2"), col("d0") + 1).as("s2v"),
        element_at(col("zn"), col("d0") + 1).as("znv"), col("n"))
      .select((col("d0") + 1).cast("int").as("d"),
        round(mean, 6).as("mean"),
        round(variance, 6).as("variance"),
        round(col("znv").cast("double") / col("n"), 6).as("nonzero_frac"),
        (variance < 1e-6).as("low_variance"))
      .orderBy(col("d"))
  }

  /** Micro rounding, exact BIGINT sums, the identical double-op order. */
  val embDimsSql: String =
    """WITH e AS (
      |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
      |                        x -> CAST(round(x * 1000000, 0) AS BIGINT)) AS iv
      |  FROM embeddings),
      |dims AS (SELECT unnest(generate_series(1, 64)) AS d),
      |sums AS (
      |  SELECT dims.d, CAST(sum(iv[dims.d]) AS BIGINT) AS s,
      |    CAST(sum(iv[dims.d] * iv[dims.d]) AS BIGINT) AS s2,
      |    CAST(sum(CASE WHEN iv[dims.d] <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS zn,
      |    count(*) AS n
      |  FROM e CROSS JOIN dims GROUP BY dims.d)
      |SELECT CAST(d AS INT) AS d,
      |  ROUND(CAST(s AS DOUBLE) / n / 1e6, 6) AS mean,
      |  ROUND((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
      |        / n / 1e12, 6) AS variance,
      |  ROUND(CAST(zn AS DOUBLE) / n, 6) AS nonzero_frac,
      |  (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
      |    / n / 1e12 < 1e-6 AS low_variance
      |FROM sums
      |ORDER BY d""".stripMargin

  /**
   * Pairwise-similarity histogram (r8) — the embedding-collapse
   * diagnostic: the distribution of pairwise cosines over a
   * deterministic corpus sample. Healthy spaces spread mass below ~0.5;
   * a collapsed/anisotropic space (the failure mode of bad contrastive
   * training, and the reason mean-centering exists) piles up near 1.0.
   * Sample = vec_id ≡ 0 (mod `every`) — bounded pairs (k²/2), an
   * id-ordered self-join, never corpus×corpus; 20 dense bins over
   * [−1, 1], the top edge clamped into the last bin. Cosine rounds at 4 before
   * binning (the ann tie discipline) → hash oracle.
   */
  def embDistHist(s: SparkSession, dir: String, every: Int = 20): DataFrame = {
    registerAll(s)
    val sample = t(s, dir, "embeddings")
      .filter(col("vec_id") % every === 0)
      .select(col("vec_id"), col("embedding"))
    val pairs = sample.as("a")
      .join(sample.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(round(vec_cosine(col("a.embedding"), col("b.embedding")), 4)
        .as("c"))
    val binned = pairs
      .select(least(floor((col("c") + 1.0) * 10).cast("int"), lit(19)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    s.range(20).select(col("id").cast("int").as("bin"))
      .join(binned, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("bin"))
  }

  val embDistHistSql: String =
    """WITH sm AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
      |pc AS (
      |  SELECT ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                      CAST(b.embedding AS DOUBLE[])), 4) AS c
      |  FROM sm a JOIN sm b ON a.vec_id < b.vec_id),
      |b AS (
      |  SELECT LEAST(CAST(FLOOR((c + 1.0) * 10) AS INT), 19) AS bin, count(*) AS n
      |  FROM pc GROUP BY 1),
      |frame AS (SELECT CAST(range AS INT) AS bin FROM range(20))
      |SELECT frame.bin, COALESCE(b.n, 0) AS n
      |FROM frame LEFT JOIN b USING (bin)
      |ORDER BY bin""".stripMargin

  /**
   * Embedding-space drift audit — the vector twin of `text_drift`:
   * pairwise cosine between the per-label centroid of every slice of
   * the embedding corpus. A re-embedded snapshot, a model swap, or a
   * poisoned slice shows up as a centroid pair drifting off the
   * diagonal long before downstream retrieval metrics move.
   *
   * Determinism: per-label centroids use the EXACT integer pipeline
   * (micro-unit rounding → `vec_lsum` long sums → half-away integer
   * means — the emb_kmeans discipline, aggregation-order-independent),
   * so the 10×64 centroid matrix is bit-identical across partitionings
   * and engines; the pairwise cosine then computes exact long
   * dot/norms (≤ 6.4e13, no overflow) cast to double once. The final
   * 45-pair matrix is driver-side math over collected k×dim longs —
   * the kmeans centroid-collect contract.
   *
   * Scale: one partial-aggregated corpus scan (k×dim longs per
   * partition cross the shuffle); everything after is O(k²·dim) on
   * the driver.
   */
  def embDrift(s: SparkSession, dir: String): DataFrame = {
    registerAll(s)
    val rows = t(s, dir, "embeddings")
      .groupBy(col("label"))
      .agg(graft.functions.vec_lsum(
          graft.functions.vec_micros(col("embedding")), 64).as("sv"),
        count(lit(1)).as("n"))
      .collect()
    val cents = rows.map { r =>
      val sv = r.getSeq[Long](1)
      val n = r.getLong(2)
      r.getInt(0) -> Array.tabulate(64)(i =>
        graft.functions.SketchUtil.halfAway(sv(i).toDouble / n))
    }.sortBy(_._1)
    val out = for {
      i <- cents.indices; j <- (i + 1) until cents.length
    } yield {
      val (la, a) = cents(i); val (lb, b) = cents(j)
      var dot = 0L; var na = 0L; var nb = 0L
      var d = 0
      while (d < 64) {
        dot += a(d) * b(d); na += a(d) * a(d); nb += b(d) * b(d); d += 1
      }
      // a zero-norm centroid (all dims rounded to 0) yields a DEFINED
      // 0.0, not a BigDecimal(NaN) crash
      val cos = if (na == 0L || nb == 0L) 0.0
        else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
      (la, lb, BigDecimal(cos)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    import s.implicits._
    out.toDF("label_a", "label_b", "cosine").orderBy(col("label_a"), col("label_b"))
  }

  /** The identical integer pipeline in SQL: micro rounding, exact
    * BIGINT sums, half-away integer means, exact long dot/norms, one
    * double division. */
  val embDriftSql: String =
    """WITH e AS (
      |  SELECT label,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |                   x -> CAST(round(x * 1000000, 0) AS BIGINT)) AS iv
      |  FROM embeddings),
      |dims AS (SELECT unnest(generate_series(1, 64)) AS d),
      |sums AS (
      |  SELECT label, dims.d, CAST(sum(iv[dims.d]) AS BIGINT) AS s, count(*) AS n
      |  FROM e CROSS JOIN dims GROUP BY label, dims.d),
      |cent AS (
      |  SELECT label,
      |    list(CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT) ORDER BY d) AS civ
      |  FROM sums GROUP BY label),
      |pairs AS (
      |  SELECT a.label AS label_a, b.label AS label_b,
      |    list_sum(list_transform(generate_series(1, 64),
      |      d -> a.civ[d] * b.civ[d])) AS dot,
      |    list_sum(list_transform(generate_series(1, 64),
      |      d -> a.civ[d] * a.civ[d])) AS na,
      |    list_sum(list_transform(generate_series(1, 64),
      |      d -> b.civ[d] * b.civ[d])) AS nb
      |  FROM cent a JOIN cent b ON a.label < b.label)
      |SELECT label_a, label_b,
      |  ROUND(CASE WHEN na = 0 OR nb = 0 THEN 0.0
      |             ELSE CAST(dot AS DOUBLE)
      |                  / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
      |        END, 6) AS cosine
      |FROM pairs
      |ORDER BY label_a, label_b""".stripMargin

  // -------------------------------------------------------------------------
  // Differentially-private aggregate release (mechanism demo)
  // -------------------------------------------------------------------------

  /**
   * Laplace-mechanism release of per-event-type distinct-user counts
   * (Dwork et al. 2006): noisy = n + Lap(1/ε) via the inverse-CDF
   * `−(1/ε)·sign(u−½)·ln(1−2|u−½|)` — the privacy-release step a data
   * platform runs before sharing corpus statistics outside the
   * trust boundary.
   *
   * Honesty notes: (1) the noise is HASH-SEEDED (the DSIR Gumbel
   * discipline — `xxhash64(event_type)` → uniform), which makes the
   * release REPLAYABLE and therefore hash-oracle-able; a production
   * release swaps in a real RNG and gives up the oracle, nothing else
   * changes. (2) The released statistic is distinct users per type
   * with per-type add/remove-one-user sensitivity 1; a user active in
   * k types consumes k·ε — composition is the CALLER's budget
   * ledger, as in every DP system. True counts ride along for audit
   * (a real release drops that column).
   *
   * Scale: countDistinct partial-aggregates; noise is per-GROUP math
   * (5 rows) — free.
   */
  def qDpAgg(s: SparkSession, dir: String, eps: Double = 1.0): DataFrame = {
    // NULL-safe group key: same rationale as q_split's coalesce
    val grouped = graft.queries.Queries.eventsTable(s, dir)
      .groupBy(coalesce(col("event_type"), lit("")).as("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    // the DSIR clamp: u can never round to exactly 0/1 where ln splits
    // between engines
    val u = hashUniform(col("event_type")) // already coalesced above
    grouped
      .withColumn("u", u)
      .select(col("event_type"), col("n_users"),
        round(col("n_users") +
          lit(-1.0 / eps) * signum(col("u") - lit(0.5)) *
            log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))), 4)
          .as("noisy_users"))
      .orderBy(col("event_type"))
  }

  /** The identical release in SQL: same xxhash64 uniform (signed-cast
    * discipline), same clamp, same inverse-CDF arithmetic. */
  lazy val qDpAggSql: String = {
    val toSigned = DedupQueries.toSignedSql
    s"""WITH g AS (
       |  SELECT coalesce(event_type, '') AS event_type,
       |    COUNT(DISTINCT user_id) AS n_users FROM events
       |  GROUP BY 1),
       |tok AS (SELECT DISTINCT coalesce(event_type, '') AS tk FROM events),
       |""".stripMargin + graft.queries.DedupQueries.xxHashTokenCtes + ",\n" +
      s"""un AS (SELECT tk AS event_type,
         |  GREATEST(LEAST(
         |    CAST($toSigned AS DOUBLE) / 18446744073709551616.0 + 0.5,
         |    0.9999999999999999), 5.421010862427522e-20) AS u
         |  FROM hashed)
         |SELECT g.event_type, g.n_users,
         |  ROUND(g.n_users + (-1.0) * sign(un.u - 0.5) *
         |    ln(1.0 - 2.0 * abs(un.u - 0.5)), 4) AS noisy_users
         |FROM g JOIN un USING (event_type)
         |ORDER BY g.event_type""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Leakage-safe train/eval split
  // -------------------------------------------------------------------------

  /**
   * Deterministic GROUP-level train/eval split: the split key is the
   * SOURCE, not the document — near-duplicates cluster within a source
   * (mirrors, templates, re-crawls), so a doc-level split leaks
   * eval-adjacent text into train and inflates every eval metric; the
   * group split guarantees an entire source lands on one side. Split =
   * `xxhash64(source) mod 100 < 90` (the deterministic-sampling
   * discipline of `q_sample`) — stable across runs, machines and
   * engines, no RNG state to checkpoint. Output: per (split, lang)
   * doc counts + token sums, the audit a pipeline snapshots next to
   * the split manifest.
   *
   * Scale: pure map-side hash + one partial-agg groupBy; the split
   * column costs nothing at any corpus size.
   */
  def qSplit(s: SparkSession, dir: String): DataFrame = {
    // NULL-safe: Spark's xxhash64(NULL) returns the seed while the
    // oracle's equi-join on the hashed token would DROP the row — a
    // silent parity split; an empty-string key keeps NULL sources as a
    // deterministic group in both engines
    val split = when(
      pmod(xxhash64(coalesce(col("source"), lit(""))), lit(100L)) < 90, "train")
      .otherwise("eval")
    t(s, dir, "documents")
      .select(split.as("split"), col("lang"),
        size(graft.queries.TextQueries.toks(col("text"))).as("n_tok"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("split"), col("lang"))
  }

  /** Same xxhash64 split via the signed-cast transcription; Spark's
    * pmod is a POSITIVE mod, so the SQL floors the remainder the same
    * way. */
  lazy val qSplitSql: String = {
    val toSigned = DedupQueries.toSignedSql
    s"""WITH tok AS (SELECT DISTINCT coalesce(source, '') AS tk FROM documents),
       |""".stripMargin + graft.queries.DedupQueries.xxHashTokenCtes + ",\n" +
      s"""sp AS (SELECT tk AS source,
         |  CASE WHEN ((($toSigned) % 100) + 100) % 100 < 90
         |       THEN 'train' ELSE 'eval' END AS split
         |  FROM hashed),
         |d AS (
         |  SELECT sp.split, doc.lang,
         |    len(list_filter(regexp_split_to_array(lower(trim(doc.text)), '\\s+'),
         |                    x -> length(x) > 0)) AS n_tok
         |  FROM documents doc
         |  JOIN sp ON coalesce(doc.source, '') = sp.source)
         |SELECT split, lang, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |FROM d GROUP BY split, lang
         |ORDER BY split, lang""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Deletion propagation (right to be forgotten)
  // -------------------------------------------------------------------------

  /**
   * GDPR/CCPA deletion propagation: a forget-list of user ids
   * (user_id % 37 = 0 — a deterministic stand-in for the legal
   * requests table) is anti-joined through every table that carries
   * the identifier, and the output is the AUDIT MANIFEST (per table:
   * rows before / removed / after) a compliance pipeline files with
   * each deletion run. Completes the governance family: `text_pii`
   * finds identifiers inside text, `q_dp_agg` releases statistics
   * safely, this one erases the rows themselves.
   *
   * Scale: the forget-list broadcasts (bounded by request volume, not
   * corpus size), every anti-join is map-side, and the audit is a
   * 3-row aggregate — the deletes rewrite only affected partitions in
   * a real lakehouse (partition-pruned MERGE DELETE).
   */
  def qGdprDelete(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.queries.Queries.eventsTable(s, dir)
    val ord = t(s, dir, "orders")
    val cust = t(s, dir, "customer")
    val forget = cust.filter(col("c_custkey") % 37 === 0)
      .select(col("c_custkey").as("fid"))
    // ONE scan per table: the left join against the (unique-keyed)
    // broadcast forget-list yields n_before = count(*) and n_removed =
    // count(fid) in a single aggregate — the two-count formulation
    // doubled the whole-corpus I/O of a compliance run
    def audit(name: String, df: DataFrame, key: String): DataFrame = {
      val r = df.join(broadcast(forget), df(key) === col("fid"), "left")
        .agg(count(lit(1)).as("nb"), count(col("fid")).as("nr")).head()
      import s.implicits._
      Seq((name, r.getLong(0), r.getLong(1), r.getLong(0) - r.getLong(1)))
        .toDF("table_name", "n_before", "n_removed", "n_after")
    }
    audit("customer", cust, "c_custkey")
      .unionByName(audit("events", ev, "user_id"))
      .unionByName(audit("orders", ord, "o_custkey"))
      .orderBy(col("table_name"))
  }

  val qGdprDeleteSql: String =
    """WITH forget AS (
      |  SELECT c_custkey AS fid FROM customer WHERE c_custkey % 37 = 0)
      |SELECT table_name, n_before, n_removed, n_after FROM (
      |  SELECT 'customer' AS table_name,
      |    (SELECT count(*) FROM customer) AS n_before,
      |    (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT fid FROM forget)) AS n_removed,
      |    (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT fid FROM forget)) AS n_after
      |  UNION ALL
      |  SELECT 'events',
      |    (SELECT count(*) FROM events),
      |    (SELECT count(*) FROM events WHERE user_id IN (SELECT fid FROM forget)),
      |    (SELECT count(*) FROM events WHERE user_id NOT IN (SELECT fid FROM forget))
      |  UNION ALL
      |  SELECT 'orders',
      |    (SELECT count(*) FROM orders),
      |    (SELECT count(*) FROM orders WHERE o_custkey IN (SELECT fid FROM forget)),
      |    (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT fid FROM forget)))
      |ORDER BY table_name""".stripMargin
}
