package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Text analysis for training-data pipelines (SURVEY.md §2.4 rows 25–26).
 * Pure per-row column math — zero shuffle, fully codegen'd; at 100 TB
 * these run at parquet-scan speed with column pruning (only `doc_id` and
 * `text` are read).
 */
object TextQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private[queries] def toks(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)

  // -------------------------------------------------------------------------
  // Language ID (marker-word heuristic)
  // -------------------------------------------------------------------------

  /** Marker stopwords per language; precedence en > es > de > fr on ties.
    * Canonical list lives next to the TokStats kernel so the HOF
    * formulation, the kernel, and the oracle can never drift. */
  val langMarkers: Seq[(String, Seq[String])] = graft.functions.SketchUtil.LangMarkers

  private def markerCount(tk: Column, markers: Seq[String]): Column =
    size(filter(tk, t => array_contains(typedLit(markers), t)))

  /** Argmax-with-precedence (en > es > de > fr) over the four marker-hit
    * counts; shared by [[textLangid]] and [[textProfile]] so the tie rule
    * can never drift between them. */
  private def langArgmax(cnts: Seq[Column]): Column = {
    val best = greatest(cnts: _*)
    when(cnts(0) === best && best > 0, "en")
      .when(cnts(1) === best && best > 0, "es")
      .when(cnts(2) === best && best > 0, "de")
      .when(cnts(3) === best && best > 0, "fr")
      .otherwise("und")
  }

  /**
   * N-gram-heuristic language ID: count marker-word hits per language,
   * argmax with fixed precedence, 'und' when no marker fires. The same
   * integer arithmetic runs in the DuckDB oracle.
   */
  def textLangid(s: SparkSession, dir: String): DataFrame = {
    val tk = toks(col("text"))
    val cnts = langMarkers.map { case (lang, ms) => lang -> markerCount(tk, ms) }
    val lang = langArgmax(cnts.map(_._2))
    t(s, dir, "documents").select(
      col("doc_id"),
      cnts(0)._2.as("hits_en"), cnts(1)._2.as("hits_es"),
      cnts(2)._2.as("hits_de"), cnts(3)._2.as("hits_fr"),
      lang.as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB expression counting marker-word hits (matches markerCount). */
  private def markerCountSql(ms: Seq[String]): String = {
    val list = ms.map(m => s"'$m'").mkString("[", ", ", "]")
    s"len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> list_contains($list, x)))"
  }

  val textLangidSql: String = {
    val Seq(en, es, de, fr) = langMarkers.map(m => markerCountSql(m._2))
    s"""SELECT doc_id,
       |  $en AS hits_en, $es AS hits_es, $de AS hits_de, $fr AS hits_fr,
       |  CASE
       |    WHEN $en >= greatest($es, $de, $fr) AND $en > 0 THEN 'en'
       |    WHEN $es >= greatest($de, $fr) AND $es > 0 THEN 'es'
       |    WHEN $de >= $fr AND $de > 0 THEN 'de'
       |    WHEN $fr > 0 THEN 'fr'
       |    ELSE 'und'
       |  END AS lang_pred
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Repetition signals (Gopher/C4-style quality filters)
  // -------------------------------------------------------------------------

  /**
   * Repetition-based quality signals: the fraction of a document covered
   * by its most frequent token and most frequent word 2-gram — the
   * classic "fraction of characters in the top n-gram" filters used to
   * drop boilerplate/spam from LLM training corpora. Computed by the
   * one-pass [[graft.functions.TopGram]] kernel: per-row, shuffle-free,
   * scan-speed at 100 TB (the explode + groupBy formulation would
   * shuffle the entire tokenized corpus). Tie-break on equal counts is
   * the lexicographically smallest gram, reproduced exactly in the
   * DuckDB oracle's `ORDER BY c DESC, gram ASC`.
   */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    graft.functions.registerAll(s)
    val tg1 = graft.functions.top_gram(col("text"), 1)
    val tg2 = graft.functions.top_gram(col("text"), 2)
    // n_tokens from the native TokStats kernel, not the CodegenFallback
    // filter(split(...)) HOF, so the projection stays in whole-stage codegen
    val nTokens = graft.functions.tok_stats(col("text")).getField("n_tokens")
    t(s, dir, "documents")
      .select(col("doc_id"), nTokens.as("n_tokens"),
        tg1.getField("gram").as("top_tok"), tg1.getField("cnt").as("top_tok_cnt"),
        tg2.getField("gram").as("top_bigram"), tg2.getField("cnt").as("top_bigram_cnt"))
      .select(col("doc_id"), col("n_tokens"),
        col("top_tok"), col("top_tok_cnt"),
        when(col("n_tokens") > 0,
          round(col("top_tok_cnt").cast("double") / col("n_tokens"), 4))
          .otherwise(0.0).as("top_tok_frac"),
        col("top_bigram"), col("top_bigram_cnt"),
        when(col("n_tokens") > 1,
          round(col("top_bigram_cnt").cast("double") / (col("n_tokens") - 1), 4))
          .otherwise(0.0).as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** The same counts via unnest + window rank in DuckDB. */
  val textRepetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                x -> length(x) > 0) AS tk
      |  FROM documents),
      |uni AS (
      |  SELECT doc_id, tok, count(*) AS c
      |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
      |  GROUP BY 1, 2),
      |uni_top AS (
      |  SELECT doc_id, tok, c FROM (
      |    SELECT doc_id, tok, c,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tok ASC) AS rn
      |    FROM uni) WHERE rn = 1),
      |bigs AS (
      |  SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS gram
      |  FROM toks),
      |bigc AS (
      |  SELECT doc_id, gram, count(*) AS c FROM bigs GROUP BY 1, 2),
      |big_top AS (
      |  SELECT doc_id, gram, c FROM (
      |    SELECT doc_id, gram, c,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
      |    FROM bigc) WHERE rn = 1)
      |SELECT t.doc_id,
      |  len(t.tk) AS n_tokens,
      |  coalesce(u.tok, '') AS top_tok,
      |  CAST(coalesce(u.c, 0) AS INT) AS top_tok_cnt,
      |  CASE WHEN len(t.tk) > 0
      |    THEN ROUND(CAST(coalesce(u.c, 0) AS DOUBLE) / len(t.tk), 4) ELSE 0.0
      |  END AS top_tok_frac,
      |  coalesce(b.gram, '') AS top_bigram,
      |  CAST(coalesce(b.c, 0) AS INT) AS top_bigram_cnt,
      |  CASE WHEN len(t.tk) > 1
      |    THEN ROUND(CAST(coalesce(b.c, 0) AS DOUBLE) / (len(t.tk) - 1), 4) ELSE 0.0
      |  END AS top_bigram_frac
      |FROM toks t
      |LEFT JOIN uni_top u USING (doc_id)
      |LEFT JOIN big_top b USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // One-pass document profile (scan sharing)
  // -------------------------------------------------------------------------

  /**
   * The full pre-training quality profile — size, token stats, lexical
   * diversity, language ID, repetition signals, and the resulting
   * keep/drop decision — computed in ONE scan of `documents`. This is
   * the scan-sharing shape a 100 TB pipeline wants: every signal is
   * per-row column math over the same `text` value, so Catalyst fuses
   * the whole profile into a single WholeStageCodegen pass at
   * parquet-scan speed, instead of one pass per signal (8× the I/O).
   *
   * Keep rule (Gopher-style, thresholds fit this corpus's spread):
   * n_tokens >= 20 AND ttr >= 0.35 AND top_tok_frac <= 0.25.
   */
  /** Keep-rule thresholds — shared with the streaming ingest pass
    * ([[graft.streaming.StreamOps.curate]] defaults to them) so batch
    * and stream can't drift. */
  val KeepMinTokens = 20
  val KeepMinTtr = 0.35
  val KeepMaxTopTokFrac = 0.25

  /** The keep-rule signals `(n_tokens, ttr, top_tok_frac)` from the
    * native `tok_stats`/`top_gram` kernels — ONE definition used by
    * [[textProfile]] (batch) and `StreamOps.curate` (streaming).
    * Repeated kernel calls in one projection are merged by Catalyst
    * subexpression elimination (plan-audited in PlanAuditSpec). */
  private[graft] def qualitySignals(txt: Column): (Column, Column, Column) = {
    val ts = graft.functions.tok_stats(txt)
    val nTokens = ts.getField("n_tokens")
    // token-less docs (empty/whitespace-only) define ttr = 0.0: under
    // ANSI mode an unguarded division THROWS on the first empty doc —
    // a guaranteed row class in any web corpus (caught by the r5
    // multilingual sweep, not the ASCII gate)
    val ttr = when(nTokens > 0,
      round(ts.getField("n_unique").cast("double") / nTokens, 4)).otherwise(0.0)
    val topTokFrac = when(nTokens > 0,
      round(graft.functions.top_gram(txt, 1).getField("cnt").cast("double") / nTokens, 4))
      .otherwise(0.0)
    (nTokens, ttr, topTokFrac)
  }

  def textProfile(s: SparkSession, dir: String): DataFrame = {
    graft.functions.registerAll(s)
    val txt = col("text")
    val nChars = length(txt)
    // every tokenization-derived integer comes from ONE tok_stats call:
    // the HOF formulation (filter(split(...), lambda)) is CodegenFallback
    // and would evict the whole projection from whole-stage codegen
    val ts = graft.functions.tok_stats(txt)
    val (nTokens, ttr, topTokFrac) = qualitySignals(txt)
    val meanTokLen = when(nTokens > 0,
      round(length(regexp_replace(txt, " ", "")).cast("double") / nTokens, 4))
      .otherwise(0.0)
    val cnts = langMarkers.indices.map(i => element_at(ts.getField("hits"), i + 1))
    val lang = langArgmax(cnts)
    val tg2 = graft.functions.top_gram(txt, 2)
    val topBigramFrac = when(nTokens > 1,
      round(tg2.getField("cnt").cast("double") / (nTokens - 1), 4)).otherwise(0.0)
    t(s, dir, "documents")
      .select(col("doc_id"), nChars.as("n_chars_actual"), nTokens.as("n_tokens"),
        meanTokLen.as("mean_token_len"), ttr.as("ttr"), lang.as("lang_pred"),
        topTokFrac.as("top_tok_frac"), topBigramFrac.as("top_bigram_frac"))
      .withColumn("keep",
        (col("n_tokens") >= KeepMinTokens && col("ttr") >= KeepMinTtr &&
          col("top_tok_frac") <= KeepMaxTopTokFrac).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** The profile signals re-expressed flat in DuckDB (same CTE shape as
    * the repetition oracle for the top-gram counts). */
  val textProfileSql: String = {
    val Seq(en, es, de, fr) = langMarkers.map(m => markerCountSql(m._2))
    s"""WITH toks AS (
       |  SELECT doc_id, text,
       |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                x -> length(x) > 0) AS tk
       |  FROM documents),
       |uni_top AS (
       |  SELECT doc_id, c FROM (
       |    SELECT doc_id, c,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tok ASC) AS rn
       |    FROM (SELECT doc_id, tok, count(*) AS c
       |          FROM (SELECT doc_id, unnest(tk) AS tok FROM toks) GROUP BY 1, 2))
       |  WHERE rn = 1),
       |big_top AS (
       |  SELECT doc_id, c FROM (
       |    SELECT doc_id, c,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
       |    FROM (SELECT doc_id, gram, count(*) AS c
       |          FROM (SELECT doc_id,
       |                  unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) AS gram
       |                FROM toks) GROUP BY 1, 2))
       |  WHERE rn = 1),
       |prof AS (
       |  SELECT t.doc_id,
       |    length(t.text) AS n_chars_actual,
       |    len(t.tk) AS n_tokens,
       |    CASE WHEN len(t.tk) > 0
       |      THEN ROUND(CAST(length(replace(t.text, ' ', '')) AS DOUBLE)
       |                 / len(t.tk), 4) ELSE 0.0
       |    END AS mean_token_len,
       |    CASE WHEN len(t.tk) > 0
       |      THEN ROUND(CAST(len(list_distinct(t.tk)) AS DOUBLE) / len(t.tk), 4)
       |      ELSE 0.0
       |    END AS ttr,
       |    CASE
       |      WHEN $en >= greatest($es, $de, $fr) AND $en > 0 THEN 'en'
       |      WHEN $es >= greatest($de, $fr) AND $es > 0 THEN 'es'
       |      WHEN $de >= $fr AND $de > 0 THEN 'de'
       |      WHEN $fr > 0 THEN 'fr'
       |      ELSE 'und'
       |    END AS lang_pred,
       |    CASE WHEN len(t.tk) > 0
       |      THEN ROUND(CAST(coalesce(u.c, 0) AS DOUBLE) / len(t.tk), 4) ELSE 0.0
       |    END AS top_tok_frac,
       |    CASE WHEN len(t.tk) > 1
       |      THEN ROUND(CAST(coalesce(b.c, 0) AS DOUBLE) / (len(t.tk) - 1), 4) ELSE 0.0
       |    END AS top_bigram_frac
       |  FROM toks t
       |  LEFT JOIN uni_top u USING (doc_id)
       |  LEFT JOIN big_top b USING (doc_id))
       |SELECT prof.*,
       |  CAST(n_tokens >= 20 AND ttr >= 0.35 AND top_tok_frac <= 0.25 AS INT) AS keep
       |FROM prof
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Document fingerprint (winnowing)
  // -------------------------------------------------------------------------

  /**
   * Winnowing fingerprint (Schleimer/Wilkerson/Aiken): hash every char
   * 4-gram, slide a window of 8 hashes keeping each window's minimum —
   * the distinct minima identify the document robustly under small
   * edits. Output: fingerprint count + a stable 64-bit digest of the
   * sorted fingerprint set.
   */
  def textFingerprint(s: SparkSession, dir: String, k: Int = 4, w: Int = 8): DataFrame = {
    graft.functions.registerAll(s)
    // polynomial k-gram hash over codepoints (base 257), winnowed —
    // plain integer arithmetic, so the DuckDB oracle reproduces it
    // bit-for-bit; computed by the one-pass native kernel
    // ([[graft.functions.PolyWinnow]] — the HOF formulation with
    // per-position interpreted substr/ascii was O(len²) and ~1000×
    // slower)
    val pw = graft.functions.poly_winnow(col("text"), k, w)
    t(s, dir, "documents").select(
      col("doc_id"),
      element_at(pw, 1).cast("int").as("n_fingerprints"),
      element_at(pw, 2).as("fp_digest"))
      .orderBy(col("doc_id"))
  }

  /** The same winnowing arithmetic in DuckDB list comprehensions. */
  val textFingerprintSql: String =
    """SELECT doc_id,
      |  CASE WHEN length(text) >= 4 THEN len(list_distinct(mins)) ELSE 0 END AS n_fingerprints,
      |  CASE WHEN length(text) >= 4 THEN CAST(list_sum(list_distinct(mins)) AS BIGINT) ELSE 0 END AS fp_digest
      |FROM (
      |  SELECT doc_id, text,
      |    [list_min(grams[i:i+7]) FOR i IN range(1, greatest(len(grams) - 8, 0) + 2)] AS mins
      |  FROM (
      |    SELECT doc_id, text,
      |      [((CAST(ord(text[i:i]) AS BIGINT) * 257 + ord(text[i+1:i+1])) * 257
      |         + ord(text[i+2:i+2])) * 257 + ord(text[i+3:i+3])
      |       FOR i IN range(1, greatest(length(text) - 4, 0) + 2)] AS grams
      |    FROM documents
      |    WHERE length(text) >= 4)
      |  UNION ALL
      |  SELECT doc_id, text, [] AS mins FROM documents WHERE length(text) < 4)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Canonical normalization
  // -------------------------------------------------------------------------

  /**
   * Canonical text normalization — the standard first pass of a
   * curation pipeline (whitespace collapse, lowercase, NFC, accent
   * strip) as the one-pass [[graft.functions.NormalizeText]] kernel:
   * pure per-row scan-speed math, zero shuffle. `changed` flags rows
   * the normalization actually touched.
   */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    graft.functions.registerAll(s)
    val norm = graft.functions.text_norm(col("text"))
    t(s, dir, "documents").select(
      col("doc_id"),
      norm.as("text_norm"),
      (norm =!= col("text")).as("changed"))
      .orderBy(col("doc_id"))
  }

  /** The same chain in DuckDB (utf8proc: strip_accents/nfc_normalize —
    * the kernel's NFD→drop-marks→NFC is utf8proc-stripmark semantics). */
  val textNormalizeSql: String =
    """SELECT doc_id,
      |  strip_accents(nfc_normalize(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS text_norm,
      |  strip_accents(nfc_normalize(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) != text AS changed
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Vocabulary / token-frequency aggregation
  // -------------------------------------------------------------------------

  /**
   * Corpus vocabulary: the `topN` most frequent tokens with counts —
   * the first step of tokenizer/vocab construction over a training
   * corpus. Scale design: token counting is the textbook case where
   * Spark's partial aggregation IS the answer — the map side combines
   * each partition down to its distinct tokens (Zipfian corpora: a few
   * hundred thousand per partition regardless of row count), so the
   * shuffle carries (token, partial_count) pairs, not the tokenized
   * corpus; the final top-N is TakeOrderedAndProject (per-partition
   * heaps, no global sort). Ties break lexicographically so the cut is
   * deterministic.
   */
  def textVocab(s: SparkSession, dir: String, topN: Int = 200): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(topN)

  val textVocabSql: String =
    """SELECT token, count(*) AS cnt FROM (
      |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                            x -> length(x) > 0)) AS token
      |  FROM documents)
      |GROUP BY token
      |ORDER BY cnt DESC, token
      |LIMIT 200""".stripMargin

  // -------------------------------------------------------------------------
  // Context-window chunking
  // -------------------------------------------------------------------------

  /**
   * Split every document into overlapping token windows (`width` tokens
   * starting every `stride`) — the context-window chunking step in front
   * of embedding or training-sequence construction (RAG chunking,
   * long-document splitting). Tail windows shorter than `width` are
   * kept; overlap is `width - stride` tokens.
   *
   * Scale design: pure per-row column math — tokenize, `posexplode` the
   * window starts, `slice` the token array — all map-side inside
   * whole-stage codegen. Output is corpus × (≈1/stride per token) rows
   * produced without shuffling the corpus; the only wide operation is
   * the presentation `orderBy`.
   */
  def textChunk(s: SparkSession, dir: String, width: Int = 64,
      stride: Int = 48): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("tk"))
      // token-less documents produce NO chunks — the same contract as
      // the oracle's generate_series(0, len(tk)-1), which emits no row
      // for an empty token list (clamping the stop instead would emit
      // one empty chunk the oracle doesn't have)
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("tk"),
        posexplode(sequence(lit(0), size(col("tk")) - 1,
          lit(stride))).as(Seq("chunk_idx", "tok_start")))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("tok_start").cast("long").as("tok_start"),
        slice(col("tk"), col("tok_start") + 1, lit(width)).as("ck"))
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"),
        size(col("ck")).cast("long").as("n_tok"),
        concat_ws(" ", col("ck")).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Same windows in DuckDB: generate_series is bounds-inclusive like
    * Spark's sequence, and 1-based list slicing clamps at the array end
    * exactly like Spark's slice(start, length). */
  val textChunkSql: String =
    """WITH toked AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                x -> length(x) > 0) AS tk
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, tk,
      |    unnest(generate_series(0, len(tk) - 1, 48)) AS tok_start
      |  FROM toked)
      |SELECT doc_id,
      |  CAST(tok_start // 48 AS BIGINT) AS chunk_idx,
      |  CAST(tok_start AS BIGINT) AS tok_start,
      |  CAST(len(tk[tok_start + 1 : tok_start + 64]) AS BIGINT) AS n_tok,
      |  array_to_string(tk[tok_start + 1 : tok_start + 64], ' ') AS chunk_text
      |FROM st
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // -------------------------------------------------------------------------
  // Unigram surprisal (statistical perplexity stand-in)
  // -------------------------------------------------------------------------

  /**
   * Per-document unigram surprisal — mean −ln p(token) under the
   * corpus's own unigram distribution — the cheap statistical stand-in
   * for model-based perplexity filtering (CCNet-style: documents whose
   * tokens are corpus-typical score low, gibberish and off-distribution
   * text scores high, both tails get reviewed or dropped).
   *
   * Scale design: the distribution is vocabulary-sized, not
   * corpus-sized (Zipf) — token counts partial-aggregate map-side into
   * the vocab frame, which then BROADCASTS back onto a second map-side
   * pass over the exploded corpus, so the only corpus-wide shuffle
   * carries (doc_id, token) rows into the final per-document average.
   * Two corpus scans (count, score) is the honest minimum without
   * caching the exploded frame — at 100 TB a production run computes
   * the vocab once per snapshot and reuses it, which this shape allows.
   */
  def textSurprisal(s: SparkSession, dir: String): DataFrame = {
    val tokens = t(s, dir, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("token"))
    val vocab = tokens.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val totals = vocab.agg(sum(col("cnt")).as("total"))
    val dist = vocab.crossJoin(broadcast(totals))
      .select(col("token"),
        (col("cnt").cast("double") / col("total").cast("double")).as("p"))
    tokens.join(broadcast(dist), "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(-avg(log(col("p"))), 4).as("nats_per_token"))
      .orderBy(col("doc_id"))
  }

  /** Identical arithmetic in DuckDB (ln both sides; same rounding). */
  val textSurprisalSql: String =
    """WITH tokens AS (
      |  SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                       x -> length(x) > 0)) AS token
      |  FROM documents),
      |vocab AS (SELECT token, count(*) AS cnt FROM tokens GROUP BY token),
      |dist AS (
      |  SELECT token,
      |    CAST(cnt AS DOUBLE) / CAST((SELECT sum(cnt) FROM vocab) AS DOUBLE) AS p
      |  FROM vocab)
      |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  round(-avg(ln(d.p)), 4) AS nats_per_token
      |FROM tokens t JOIN dist d USING (token)
      |GROUP BY t.doc_id
      |ORDER BY doc_id""".stripMargin

  /**
   * Bigram Laplace-smoothed LM scoring — one modeling step up from
   * [[textSurprisal]] and the statistical stand-in for CCNet's KenLM
   * perplexity filter: each transition scores
   * −ln p(w₂|w₁) = −ln((c(w₁,w₂)+1) / (c(w₁)+V)) under the corpus's
   * own counts, averaged per document (docs under 2 tokens have no
   * transition and drop out, same inner-join contract as surprisal).
   *
   * Scale design — the case where the broadcast-rescore of surprisal
   * stops working: the BIGRAM table is corpus-scale, so c(w₁,w₂) is a
   * count window over the (w₁, w₂)-partitioned transition frame (the
   * groupBy-and-rejoin would shuffle the same frame twice); unigram
   * counts stay vocab-bounded and broadcast; V is one scalar. Hot
   * unigrams ("the") never become a partition key — (w₁, w₂) classes
   * are far finer than w₁ alone — and the per-doc average is the only
   * other shuffle.
   */
  def textBigram(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toked = t(s, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("tk"))
    val trans = toked.filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("z"))
      .select(col("doc_id"), col("z.0").as("w1"), col("z.1").as("w2"))
    val uni = toked.select(explode(col("tk")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocabSize = uni.agg(count(lit(1)).as("v"))
    val scored = trans
      .withColumn("c12", count(lit(1)).over(Window.partitionBy("w1", "w2")))
      .join(broadcast(uni), "w1")
      .crossJoin(broadcast(vocabSize))
      .withColumn("p", (col("c12").cast("double") + 1.0) /
        (col("c1").cast("double") + col("v").cast("double")))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_trans"),
        round(-avg(log(col("p"))), 4).as("nats_per_transition"))
      .orderBy(col("doc_id"))
  }

  /** Identical counts and arithmetic in DuckDB (ln + round both
    * engines; same tokenizer; same Laplace denominator c₁ + |V|). */
  val textBigramSql: String =
    """WITH toked AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                x -> length(x) > 0) AS tk
      |  FROM documents),
      |trans AS (
      |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
      |  FROM toked, unnest(generate_series(1, len(tk) - 1)) AS u(i)
      |  WHERE len(tk) >= 2),
      |uni AS (
      |  SELECT unnest(tk) AS w1 FROM toked),
      |c1s AS (SELECT w1, count(*) AS c1 FROM uni GROUP BY w1),
      |bg AS (SELECT w1, w2, count(*) AS c12 FROM trans GROUP BY w1, w2),
      |v AS (SELECT count(*) AS v FROM c1s)
      |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_trans,
      |  round(-avg(ln((CAST(b.c12 AS DOUBLE) + 1.0)
      |                / (CAST(c.c1 AS DOUBLE) + CAST(v.v AS DOUBLE)))), 4)
      |    AS nats_per_transition
      |FROM trans t
      |JOIN bg b USING (w1, w2)
      |JOIN c1s c USING (w1)
      |CROSS JOIN v
      |GROUP BY t.doc_id
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Linear quality classifier (fastText / DCLM / FineWeb-edu shape)
  // -------------------------------------------------------------------------

  /** Deterministic classifier weights over the `dim` hashed feature
    * buckets — a seeded golden-angle spread standing in for trained
    * fastText/LR weights (no training corpus ships here; the SHAPE —
    * w · φ(text) + b at scan speed — is the operator). ONE definition
    * feeds the query's plan literal and the oracle's SQL literal. */
  private[graft] def classifierWeights(dim: Int): Array[Float] =
    Array.tabulate(dim)(i => math.sin(i * 2.399963229728653).toFloat)
  private[graft] val ClassifierBias: Double = 0.05

  /**
   * Model-based quality gate — the modern counterpart of the rule
   * batteries (Gopher/C4): DCLM and FineWeb-edu rank documents by a
   * trained classifier's margin, not hand rules. The model here is a
   * LINEAR scorer over hashing-trick bag-of-words features (the
   * fastText architecture with its embedding layer replaced by the
   * same 64-bucket murmur3 feature map the index uses):
   * margin = w · φ(text) + b, keep = margin ≥ 0 (decided on the
   * ROUNDED margin in both engines, so no FP boundary can split them).
   *
   * Scale shape: pure map-side column math — the codegen'd
   * `hash_embed` kernel + `vec_dot` against plan-literal weights; no
   * shuffle, no UDF, scan-speed inference exactly like production
   * fastText scoring over 100 TB. Swapping the stand-in literals for
   * trained weights changes nothing structural.
   */
  def textClassify(s: SparkSession, dir: String, dim: Int = 64): DataFrame = {
    graft.functions.registerAll(s)
    classifyBody(t(s, dir, "documents"), dim).orderBy(col("doc_id"))
  }

  /** The sort-free scoring body over any (doc_id, text) frame — ONE
    * definition shared by the batch operator and the streaming ingest
    * gate ([[graft.streaming.StreamOps.classifyStream]]), so the model
    * cannot drift between them (the c4Body discipline). Stateless
    * per-row math: runs identically under Structured Streaming. */
  private[graft] def classifyBody(docs: DataFrame, dim: Int = 64): DataFrame = {
    val w = classifierWeights(dim)
    docs
      .select(col("doc_id"),
        round(graft.functions.vec_dot(
          graft.functions.hash_embed(col("text"), dim),
          typedLit(w.toSeq)) + lit(ClassifierBias), 4).as("margin"))
      .withColumn("keep", (col("margin") >= 0).cast("int"))
  }

  /** The identical inference in DuckDB: the shared murmur3 hash-embed
    * CTEs ([[AnnQueries.hashEmbedCtes]] — UTF-8-byte exact) dotted
    * with the same weight literals; token-less docs enter as zero
    * vectors, so their margin is exactly the bias. */
  val textClassifySql: String = {
    val w = classifierWeights(64)
    val wl = w.map(v => s"CAST(${v.toString} AS FLOAT)").mkString(", ")
    s"WITH ${AnnQueries.hashEmbedCtes}\n" +
      s"""SELECT doc_id, margin, CAST(margin >= 0 AS INT) AS keep FROM (
         |  SELECT d.doc_id,
         |    round(list_dot_product(
         |      CAST(coalesce(e, list_transform(range(0,64), x -> CAST(0.0 AS FLOAT))) AS DOUBLE[]),
         |      CAST([$wl] AS DOUBLE[])) + $ClassifierBias, 4) AS margin
         |  FROM documents d LEFT JOIN emb USING (doc_id))
         |ORDER BY doc_id""".stripMargin
  }

  /**
   * Character-level Shannon entropy per document (nats) — the classic
   * gibberish/degenerate-content signal: `aaaa…` scores ≈ 0,
   * base64/hex blobs score near the uniform bound, natural language
   * sits ≈ 2.8–3.1. Pure per-row column math — zero shuffle, scan
   * speed at any corpus size. FP determinism: the Σ p·ln p runs over
   * the SORTED distinct-character list in BOTH engines, so the IEEE
   * summation order is pinned (first-occurrence order is
   * engine-defined; sorted order is not).
   */
  def textEntropy(s: SparkSession, dir: String): DataFrame = {
    val chars = split(col("text"), "")
    val n = size(chars)
    val uniq = array_sort(array_distinct(chars))
    val h = -aggregate(uniq, lit(0.0), (acc, c) => {
      val p = size(filter(chars, x => x === c)).cast("double") / n.cast("double")
      acc + p * log(p)
    })
    t(s, dir, "documents").select(
      col("doc_id"),
      n.cast("long").as("n_chars"),
      round(when(n === 0, 0.0).otherwise(h), 4).as("entropy_nats"))
      .withColumn("keep", col("entropy_nats") >= 2.0)
      .orderBy(col("doc_id"))
  }

  /** Same sorted-order summation in DuckDB. Spark's split(text, "")
    * yields one element per character with NO trailing empty string;
    * DuckDB's equivalent is string_split(text, '') — and p > 0 for
    * every listed char, so ln is total. */
  val textEntropySql: String =
    """WITH c AS (
      |  SELECT doc_id, string_split(text, '') AS chars
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, len(chars) AS n,
      |    list_sort(list_distinct(chars)) AS uniq, chars
      |  FROM c)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
      |  round(CASE WHEN n = 0 THEN 0.0 ELSE
      |    -list_reduce(list_prepend(0.0, list_transform(uniq, ch ->
      |        (CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE) / n)
      |        * ln(CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE) / n))),
      |      (a, b) -> a + b) END, 4) AS entropy_nats,
      |  (round(CASE WHEN n = 0 THEN 0.0 ELSE
      |    -list_reduce(list_prepend(0.0, list_transform(uniq, ch ->
      |        (CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE) / n)
      |        * ln(CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE) / n))),
      |      (a, b) -> a + b) END, 4) >= 2.0) AS keep
      |FROM e
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // BM25 ranked lexical search
  // -------------------------------------------------------------------------

  /**
   * BM25 (Robertson/Okapi, the +1-idf variant Lucene uses) top-k over a
   * `(doc_id, text)` corpus — the lexical complement to the embedding
   * search (`ann_text_search`). Scale design: the corpus tokenizes and
   * explodes MAP-SIDE, and the query-term filter runs in the same stage,
   * so the only thing that ever shuffles is `(doc_id, term, tf)` for
   * docs that actually contain a query term — at 100 TB with a 4-term
   * query that is a vanishingly small fraction of the scan. Per-term
   * document frequencies come from a window over that same tiny frame
   * (one row per doc×term already, so `count(*)` IS the distinct-doc
   * count) — no second corpus pass. The final cut is
   * TakeOrderedAndProject on `(score desc, doc_id)`.
   *
   * The corpus stats (N, avgdl) are one extra column-pruned scan here;
   * a production pipeline computes them once per corpus snapshot and
   * passes them in — `bm25` accepts them precomputed for exactly that.
   */
  def bm25(docs: DataFrame, query: String, k: Int = 20,
           k1: Double = 1.2, b: Double = 0.75,
           stats: Option[(Long, Double)] = None): DataFrame = {
    val terms = query.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "BM25 query must contain at least one term")
    val toked = docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).as("doc_len"))
    val statsDf = stats match {
      case Some((n, avgdl)) =>
        toked.sparkSession.range(1).select(
          lit(n).as("n_docs"), lit(avgdl).as("avgdl"))
      case None =>
        toked.agg(count(lit(1)).as("n_docs"), avg(col("doc_len")).as("avgdl"))
    }
    val hits = toked
      .select(col("doc_id"), col("doc_len"), explode(col("tk")).as("token"))
      .filter(col("token").isin(terms: _*)) // same stage as the scan: map-side
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"),
        first(col("doc_len")).as("doc_len"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
    hits
      .withColumn("df", count(lit(1)).over(w)) // one row per doc×term ⇒ distinct docs
      .crossJoin(broadcast(statsDf))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("doc_len") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The registered benchmark query and parameters, shared by
    * [[textBm25]] and the generated oracle so the two can never drift
    * (same single-source-of-truth discipline as [[langMarkers]]).
    * The folded constants (k1+1, 1−b) are computed symbolically in the
    * SQL from the same literals — identical IEEE doubles both sides. */
  val Bm25Query: String = "spark join vector stream"
  val Bm25K1: Double = 1.2
  val Bm25B: Double = 0.75

  def textBm25(s: SparkSession, dir: String): DataFrame =
    bm25(t(s, dir, "documents"), Bm25Query, k = 20, k1 = Bm25K1, b = Bm25B)

  /** Identical arithmetic in DuckDB (ln = Spark's log; same rounding). */
  val textBm25Sql: String = {
    val terms = Bm25Query.toLowerCase.trim.split("\\s+")
      .filter(_.nonEmpty).distinct.map(t => s"'$t'").mkString(", ")
    s"""WITH toked AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                x -> length(x) > 0) AS tk
       |  FROM documents),
       |stats AS (
       |  SELECT count(*)::DOUBLE AS n_docs, avg(length(tk))::DOUBLE AS avgdl
       |  FROM toked),
       |hits AS (
       |  SELECT doc_id, token, count(*)::DOUBLE AS tf, any_value(doc_len) AS doc_len
       |  FROM (SELECT doc_id, length(tk) AS doc_len, unnest(tk) AS token FROM toked)
       |  WHERE token IN ($terms)
       |  GROUP BY doc_id, token),
       |withdf AS (
       |  SELECT *, count(*) OVER (PARTITION BY token) AS df FROM hits)
       |SELECT doc_id,
       |  round(sum(ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5))
       |            * tf * ($Bm25K1 + 1.0)
       |            / (tf + $Bm25K1 * ((1.0 - $Bm25B) + $Bm25B * doc_len / s.avgdl))), 4) AS score
       |FROM withdf, stats s
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id
       |LIMIT 20""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Gopher quality rules
  // -------------------------------------------------------------------------

  /**
   * Gopher-rule quality filtering (Rae et al. 2021 §A1.1 — the
   * standard web-scale pre-training filter battery): per document, the
   * rule inputs (word count, mean word length, '#'/'...'-symbol word
   * fraction, alphabetic word fraction, bullet/ellipsis line
   * fractions, distinct stop-word count) and the combined keep
   * decision (50 ≤ words ≤ 100k, 3 ≤ mean len ≤ 10, symbols ≤ 0.1,
   * alpha ≥ 0.8, bullets ≤ 0.9, ellipses ≤ 0.3, ≥ 2 stop words).
   *
   * Scale design: every signal comes from the ONE-pass native
   * [[graft.functions.GopherStats]] kernel — a pure map-side
   * projection at scan speed, like [[textProfile]]; the only wide
   * operation is the presentation sort. Keep decisions compare the
   * ROUNDED fractions, so the Spark and DuckDB sides can't disagree at
   * a rounding boundary.
   */
  def textGopher(s: SparkSession, dir: String): DataFrame = {
    graft.functions.registerAll(s)
    val g = graft.functions.gopher_stats(col("text"))
    def frac(num: Column, den: Column): Column =
      round(when(den === 0, lit(0.0)).otherwise(num.cast("double") / den), 4)
    t(s, dir, "documents")
      .select(col("doc_id"), g.as("g"))
      .select(col("doc_id"),
        col("g.n_words").cast("long").as("n_words"),
        frac(col("g.sum_word_len"), col("g.n_words")).as("mean_word_len"),
        frac(col("g.n_symbol_words"), col("g.n_words")).as("frac_symbol_words"),
        frac(col("g.n_alpha_words"), col("g.n_words")).as("frac_alpha_words"),
        col("g.n_stop_distinct").cast("long").as("n_stop_distinct"),
        frac(col("g.n_bullet_lines"), col("g.n_lines")).as("frac_bullet_lines"),
        frac(col("g.n_ellipsis_lines"), col("g.n_lines")).as("frac_ellipsis_lines"))
      .withColumn("keep",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("frac_symbol_words") <= 0.1 &&
          col("frac_alpha_words") >= 0.8 &&
          col("frac_bullet_lines") <= 0.9 &&
          col("frac_ellipsis_lines") <= 0.3 &&
          col("n_stop_distinct") >= 2)
      .orderBy(col("doc_id"))
  }

  /**
   * C4 cleaning battery (Raffel et al. 2020 §2.2) over any
   * (doc_id, text) frame: line-level removal (keep only stripped lines
   * ending in terminal punctuation with ≥ 5 words that mention neither
   * "javascript" nor a cookie/ToS policy phrase) plus page-level
   * signals ("lorem ipsum" / '{' anywhere, ≥ 3 sentences over kept
   * lines). Unlike [[textGopher]] (signals only), this is a TRANSFORM:
   * `kept_text` is the cleaned document, so the oracle pins the whole
   * rebuild byte-for-byte. All signals come from the one-pass native
   * [[graft.functions.C4Stats]] kernel — map-side at scan speed, no
   * shuffle (the orderBy is presentation-only; the operator itself is
   * embarrassingly parallel at any corpus size).
   */
  def c4Clean(docs: DataFrame): DataFrame =
    c4Body(docs).orderBy(col("doc_id"))

  /** The sort-free transform: stateless column math only, so the SAME
    * code runs under Structured Streaming ([[c4Stream]]) — a stream
    * cannot orderBy, and a curation transform has no reason to. */
  private[graft] def c4Body(docs: DataFrame): DataFrame = {
    val c = graft.functions.c4_stats(col("text"))
    docs.select(col("doc_id"), c.as("c"))
      .select(col("doc_id"),
        col("c.n_lines").cast("long").as("n_lines"),
        col("c.n_kept").cast("long").as("n_kept"),
        col("c.n_sentences").cast("long").as("n_sentences"),
        col("c.has_lorem").as("has_lorem"),
        col("c.has_brace").as("has_brace"),
        col("c.kept_text").as("kept_text"))
      .withColumn("keep",
        col("n_kept") >= 1 && col("n_sentences") >= 3 &&
          !col("has_lorem") && !col("has_brace"))
  }

  /** Gate enrichment for [[textC4]]: the synthetic corpus is one
    * unpunctuated line per doc, so raw C4 output would be trivially
    * all-reject. Both engines deterministically rebuild each doc into
    * 8-word lines with doc_id-seeded terminal marks (1-in-5 lines get
    * none), planted "javascript" / "privacy policy" mentions, and
    * per-doc "lorem ipsum" / '{' pages — every rule fires somewhere in
    * the gate corpus (spec-pinned), the operator itself stays generic
    * (same planting pattern as DedupQueries.derivedCopies). */
  private def c4Enriched(docs: DataFrame): DataFrame = {
    val tk = toks(col("text"))
    val lines = transform(
      sequence(lit(0), (greatest(size(tk) - 1, lit(0)) / 8).cast("int")),
      i => concat(
        array_join(slice(tk, i * 8 + 1, lit(8)), " "),
        when((col("doc_id") + i) % 11 === 3, lit(" javascript")).otherwise(lit("")),
        when((col("doc_id") + i) % 13 === 4, lit(" privacy policy")).otherwise(lit("")),
        when((col("doc_id") + i) % 5 === 0, lit(""))
          .when((col("doc_id") + i) % 5 === 1, lit("?"))
          .when((col("doc_id") + i) % 5 === 2, lit("!"))
          .otherwise(lit("."))))
    docs.select(col("doc_id"),
      concat(
        array_join(lines, "\n"),
        when(col("doc_id") % 41 === 1, lit("\nlorem ipsum dolor sit amet."))
          .otherwise(lit("")),
        when(col("doc_id") % 37 === 0, lit("\nconfig { x }."))
          .otherwise(lit(""))).as("text"))
  }

  def textC4(s: SparkSession, dir: String): DataFrame = {
    graft.functions.registerAll(s)
    c4Clean(c4Enriched(t(s, dir, "documents")))
  }

  /** The enrichment and every C4 rule replayed in DuckDB — same
    * tokenizer, same line strip, same phrase lists (generated from
    * [[graft.functions.SketchUtil.C4Policies]] so the engines share
    * ONE list), and byte-equality on the rebuilt kept_text. */
  val textC4Sql: String = {
    val pol = graft.functions.SketchUtil.C4Policies
      .map(p => s"      AND NOT contains(lower(x), '$p')").mkString("\n")
    s"""WITH d0 AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                x -> length(x) > 0) AS tk
       |  FROM documents),
       |enr AS (
       |  SELECT doc_id,
       |    array_to_string(
       |      list_transform(generate_series(0, greatest(len(tk) - 1, 0) // 8),
       |        -- token-less docs slice to []: array_to_string([]) is NULL
       |        -- in DuckDB and would poison the whole document text
       |        i -> coalesce(array_to_string(list_slice(tk, i * 8 + 1, i * 8 + 8), ' '), '')
       |          || CASE WHEN (doc_id + i) % 11 = 3 THEN ' javascript' ELSE '' END
       |          || CASE WHEN (doc_id + i) % 13 = 4 THEN ' privacy policy' ELSE '' END
       |          || CASE (doc_id + i) % 5 WHEN 0 THEN '' WHEN 1 THEN '?'
       |             WHEN 2 THEN '!' ELSE '.' END),
       |      chr(10))
       |    || CASE WHEN doc_id % 41 = 1
       |            THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
       |    || CASE WHEN doc_id % 37 = 0
       |            THEN chr(10) || 'config { x }.' ELSE '' END AS text
       |  FROM d0),
       |l AS (
       |  SELECT doc_id, text, lower(text) AS lt,
       |    list_filter(list_transform(regexp_split_to_array(text, '\\n'),
       |                x -> trim(x, ' ' || chr(9) || chr(13))),
       |                x -> length(x) > 0) AS lns
       |  FROM enr),
       |k AS (
       |  SELECT doc_id,
       |    len(lns) AS n_lines,
       |    list_filter(lns, x ->
       |      (x LIKE '%.' OR x LIKE '%!' OR x LIKE '%?' OR x LIKE '%"')
       |      AND len(list_filter(regexp_split_to_array(x, '\\s+'),
       |                          w -> length(w) > 0)) >= 5
       |      AND NOT contains(lower(x), 'javascript')
       |$pol) AS kept,
       |    contains(lt, 'lorem ipsum') AS has_lorem,
       |    contains(text, '{') AS has_brace
       |  FROM l),
       |o AS (
       |  SELECT doc_id,
       |    CAST(n_lines AS BIGINT) AS n_lines,
       |    CAST(len(kept) AS BIGINT) AS n_kept,
       |    CAST(coalesce(list_sum(list_transform(kept, x ->
       |      length(x) - length(replace(replace(replace(x, '.', ''),
       |                                         '!', ''), '?', '')))), 0)
       |      AS BIGINT) AS n_sentences,
       |    has_lorem, has_brace,
       |    -- array_to_string of an EMPTY list is NULL in DuckDB
       |    coalesce(array_to_string(kept, chr(10)), '') AS kept_text
       |  FROM k)
       |SELECT *,
       |  (n_kept >= 1 AND n_sentences >= 3
       |   AND NOT has_lorem AND NOT has_brace) AS keep
       |FROM o
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Per-language percentile quality gate (FineWeb/DCLM shape)
  // -------------------------------------------------------------------------

  /** Deterministic integer quality score: milli-TTR (1000·unique ⫽
    * total, floor) plus token count capped at 256 — the exact-integer
    * stand-in for a classifier score, so the percentile boundary can
    * never float-drift between engines. Token-less docs score 0. */
  // The milli-TTR score from an already-computed tok_stats struct.
  // Integer milli-TTR: floor(1000·unique/n) is exact in double for
  // n ≤ 2²² tokens.
  private def qualityMilliFromStats(ts: Column): Column = {
    val n = ts.getField("n_tokens")
    when(n === 0, lit(0L)).otherwise(
      floor((ts.getField("n_unique") * 1000).cast("double") / n).cast("long") +
        least(n, lit(256)).cast("long"))
  }

  /**
   * Keep the top `keepNum/keepDen` of documents per language by
   * quality score — the percentile-gate step of a FineWeb/DCLM-style
   * curation pipeline (absolute thresholds don't transfer across
   * languages; ranks do). Keep count is exact: k = (num·n) ⫽ den per
   * language, ties at the boundary score admitted by ascending doc_id.
   *
   * Scale design: a naive rank needs a window over the corpus
   * partitioned by language — a handful of giant partitions at 100 TB.
   * Here the corpus TEXT is scanned once into a persisted 24-byte/row
   * (doc_id, lang, score) frame; the tie-break rank windows over
   * (lang, score) — histogram-many balanced partitions, never a
   * per-language giant — and the score histogram collapses to
   * per-(lang, score) admission slots (slots = k − #docs scoring
   * higher, clamped by rank), broadcast back onto the ranked frame.
   * One slim shuffle, one broadcast join, no giant partition: rows
   * above the threshold score have slots ≥ class size (rank always
   * admits), rows below have slots ≤ 0 (never admits), and the
   * boundary class admits exactly its lowest-doc_id prefix.
   */
  private val ptileCache = new graft.operators.CacheSlot

  /** `reuseScan = true` persists the slim scored frame so the rank and
    * histogram consumers share one text scan — worth it when scoring the
    * text dominates (the 100 TB shape). Default `false`: a single-shot
    * call at bench scale measured FASTER re-running the codegen'd scorer
    * twice (two pipelined scans) than paying cache materialization it
    * never amortizes (0.73 s cached vs ~0.3 s rescanned at sf0.1). */
  def ptileGate(docs: DataFrame, keepNum: Int = 3, keepDen: Int = 10,
      reuseScan: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Join-key null discipline matters for plan reuse: the final join
    // would otherwise INFER IsNotNull(quality_milli) and push the whole
    // scorer expression into the two branches at different depths —
    // making the Exchange subtrees canonically unequal (no
    // ReuseExchange → scan runs twice) AND re-evaluating the tokenizer
    // inside the scan Filter. So: null text/lang rows (which could
    // never survive the join) are dropped by cheap pushed filters, and
    // the score is wrapped in coalesce — a no-op for non-null text —
    // purely to make the key's nullability FALSE so no filter is
    // inferred on either branch.
    // ONE tok_stats kernel call per row (r6): the old HOF formulation
    // (filter(split(lower(trim)),λ)) was CodegenFallback AND the
    // optimizer inlined it 4× per row — the whole text_ptile r5
    // regression once the leaked persist stopped hiding it. The struct
    // gets its OWN projection so CollapseProject (which refuses to
    // duplicate non-cheap expressions) keeps the kernel evaluated once;
    // both projections still fuse into one codegen stage. Tokenization
    // is bit-identical (SketchUtil.tokens == filter(split(lower(trim)),
    // len>0), pinned by the multilingual text_profile oracle), so the
    // DuckDB oracle is unchanged.
    val slim = docs
      .filter(col("text").isNotNull && col("lang").isNotNull)
      .select(col("doc_id"), col("lang"),
        graft.functions.tok_stats(col("text")).as("ts"))
      .select(col("doc_id"), col("lang"),
        coalesce(qualityMilliFromStats(col("ts")), lit(0L)).as("quality_milli"))
    val scored = if (reuseScan) ptileCache.cache(slim) else slim
    // The histogram aggregates the RANKED frame (not `scored`): both
    // consumers then share one canonical Exchange subtree, so
    // ReuseExchange makes the text scan + scorer run ONCE even without
    // persisting. The histogram's groupBy keys equal the reused
    // exchange's partitioning, so its aggregation adds no shuffle —
    // the duplicated work past the reused shuffle is one sort of
    // 24-byte rows.
    val wGrp = Window.partitionBy("lang", "quality_milli")
    val ranked = scored
      .withColumn("rn", row_number().over(wGrp.orderBy("doc_id")))
    val wCum = Window.partitionBy("lang").orderBy(col("quality_milli").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // max(rn) == group count, and REFERENCING rn is what keeps the
    // Window in this branch (a count(*) would let column pruning
    // remove it, splitting the branches' plans and losing the reuse).
    val th = ranked
      .groupBy("lang", "quality_milli").agg(max(col("rn")).cast("long").as("cnt"))
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n_lang", sum("cnt").over(Window.partitionBy("lang")))
      .select(col("lang"), col("quality_milli"),
        (floor((col("n_lang") * keepNum).cast("double") / keepDen).cast("long")
          - (col("cum") - col("cnt"))).as("slots"))
    ranked.join(broadcast(th), Seq("lang", "quality_milli"))
      .select(col("doc_id"), col("lang"), col("quality_milli"),
        (col("rn") <= col("slots")).as("keep"))
      .orderBy(col("doc_id"))
  }

  def textPtile(s: SparkSession, dir: String): DataFrame = {
    graft.functions.registerAll(s) // qualityMilli's tok_stats kernel
    ptileGate(t(s, dir, "documents"))
  }

  /** The oracle states the SPEC the histogram path implements: keep iff
    * rank ≤ (3n)⫽10 under the total order (score desc, doc_id asc) per
    * language. Agreement proves the threshold+boundary decomposition
    * admits exactly the global-window prefix. */
  val textPtileSql: String =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN len(tk) = 0 THEN 0
      |         ELSE (1000 * len(list_distinct(tk))) // len(tk)
      |              + least(len(tk), 256) END AS quality_milli
      |  FROM (SELECT doc_id, lang,
      |          list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                      x -> length(x) > 0) AS tk
      |        FROM documents)),
      |r AS (
      |  SELECT doc_id, lang, CAST(quality_milli AS BIGINT) AS quality_milli,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY quality_milli DESC, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM s)
      |SELECT doc_id, lang, quality_milli, rn <= (3 * n) // 10 AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  /** Identical signals in DuckDB: same tokenizer, same
    * space/tab/CR-only line strip (trim(x, ' '||chr(9)||chr(13)) — NOT
    * Java String.trim's ≤ U+0020 sweep), same rounded-fraction keep
    * comparisons. list_sum of an empty list is NULL → coalesce. */
  val textGopherSql: String = {
    val stops = graft.functions.SketchUtil.GopherStops
      .map(w => s"'$w'").mkString(", ")
    s"""WITH g AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |                x -> length(x) > 0) AS tk,
       |    list_filter(list_transform(regexp_split_to_array(text, '\\n'),
       |                x -> trim(x, ' ' || chr(9) || chr(13))),
       |                x -> length(x) > 0) AS lns
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id, len(tk) AS n_words, len(lns) AS n_lines,
       |    coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS sum_word_len,
       |    coalesce(list_sum(list_transform(tk, x ->
       |      CASE WHEN contains(x, '#') OR contains(x, '...') THEN 1 ELSE 0 END)), 0) AS n_symbol,
       |    coalesce(list_sum(list_transform(tk, x ->
       |      CASE WHEN regexp_matches(x, '[a-z]') THEN 1 ELSE 0 END)), 0) AS n_alpha,
       |    len(list_intersect(list_distinct(tk), [$stops])) AS n_stop,
       |    coalesce(list_sum(list_transform(lns, x ->
       |      CASE WHEN x[1] IN ('-', '*', '•') THEN 1 ELSE 0 END)), 0) AS n_bullet,
       |    coalesce(list_sum(list_transform(lns, x ->
       |      CASE WHEN x LIKE '%...' OR x LIKE '%…' THEN 1 ELSE 0 END)), 0) AS n_ellipsis
       |  FROM g),
       |fr AS (
       |  SELECT doc_id,
       |    CAST(n_words AS BIGINT) AS n_words,
       |    round(CASE WHEN n_words = 0 THEN 0.0
       |          ELSE CAST(sum_word_len AS DOUBLE) / n_words END, 4) AS mean_word_len,
       |    round(CASE WHEN n_words = 0 THEN 0.0
       |          ELSE CAST(n_symbol AS DOUBLE) / n_words END, 4) AS frac_symbol_words,
       |    round(CASE WHEN n_words = 0 THEN 0.0
       |          ELSE CAST(n_alpha AS DOUBLE) / n_words END, 4) AS frac_alpha_words,
       |    CAST(n_stop AS BIGINT) AS n_stop_distinct,
       |    round(CASE WHEN n_lines = 0 THEN 0.0
       |          ELSE CAST(n_bullet AS DOUBLE) / n_lines END, 4) AS frac_bullet_lines,
       |    round(CASE WHEN n_lines = 0 THEN 0.0
       |          ELSE CAST(n_ellipsis AS DOUBLE) / n_lines END, 4) AS frac_ellipsis_lines
       |  FROM sig)
       |SELECT *,
       |  (n_words BETWEEN 50 AND 100000
       |   AND mean_word_len BETWEEN 3.0 AND 10.0
       |   AND frac_symbol_words <= 0.1
       |   AND frac_alpha_words >= 0.8
       |   AND frac_bullet_lines <= 0.9
       |   AND frac_ellipsis_lines <= 0.3
       |   AND n_stop_distinct >= 2) AS keep
       |FROM fr
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // BPE token accounting (trained merges, real subword counts)
  // -------------------------------------------------------------------------

  /** Trained merge lists, one per (session, dir, nMerges) — training
    * is a build-once artifact like the PQ codebooks. */
  private val bpeCache =
    new graft.operators.SessionMemo[Array[(String, String)]]()

  @volatile private var bpeOracleCtx: Option[(SparkSession, String)] = None

  /** Train BPE merges on the corpus's token frequencies: the corpus
    * collapses map-side to a vocabulary-sized (token, count) frame
    * (the text_vocab shuffle shape), the top `maxVocab` rows by
    * (count desc, token) train driver-side —
    * [[graft.functions.BpeKernels.train]] is deterministic, so the
    * merge list is a pure function of the corpus. */
  private[queries] def bpeMergesFor(s: SparkSession, dir: String,
      nMerges: Int = 100, maxVocab: Int = 20000): Array[(String, String)] =
    bpeCache.getOrElseUpdate(s"${graft.operators.SessionMemo.sessionKey(s)}#$dir#$nMerges#$maxVocab", {
      val counts = t(s, dir, "documents")
        .select(explode(toks(col("text"))).as("tk"))
        .groupBy(col("tk")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tk"))
        .limit(maxVocab)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      graft.functions.BpeKernels.train(counts, nMerges)
    })

  /**
   * BPE token accounting — real subword token counts under a
   * corpus-trained merge table (§2 row 112): per document, whitespace
   * tokens, code points over tokens (the piece count before any
   * merge), and BPE pieces under the trained vocabulary. This is the
   * "how many tokens will this document cost" number a training
   * pipeline budgets with — a whitespace count misprices CJK and
   * agglutinative text badly.
   *
   * Scale shape: training reads a vocabulary-sized count frame once
   * (build-once, cached per session like the PQ codebooks); scoring
   * is ONE map-side pass — the merge table rides the plan as a
   * constant, [[graft.functions.BpeStats]] encodes per-row at scan
   * speed with a per-task distinct-token memo (Zipf: the cache
   * converges after a few thousand rows). No shuffle anywhere.
   *
   * Determinism/oracle: encoding applies merges in training order;
   * each step is literally `replace(state, "␟a␟␟b␟", "␟ab␟")` over a
   * separator-wrapped symbol string, and Java's String.replace and
   * DuckDB's replace share left-to-right non-overlapping semantics —
   * so the oracle replays the whole encode as an N-step recursive CTE
   * over the distinct tokens, with the merge list as literals (the
   * codebook-literal discipline). Full hash-match oracle.
   */
  def textBpe(s: SparkSession, dir: String): DataFrame = {
    graft.functions.registerAll(s)
    import org.apache.spark.sql.GraftSqlBridge.{column => bcol, expression => bexpr}
    val merges = bpeMergesFor(s, dir)
    bpeOracleCtx = Some((s, dir))
    t(s, dir, "documents")
      .select(col("doc_id"),
        bcol(graft.functions.BpeStats(bexpr(col("text")),
          merges.map(_._1), merges.map(_._2))).as("st"))
      .select(col("doc_id"),
        coalesce(col("st.n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("st.n_cp"), lit(0L)).as("n_cp"),
        coalesce(col("st.n_bpe"), lit(0L)).as("n_bpe"))
      .orderBy(col("doc_id"))
  }

  /** Generated oracle for [[textBpe]] — None until the query has run
    * in this JVM (the trained merges are the plan constants the SQL
    * embeds; Verify's run-then-dump order guarantees availability). */
  def textBpeSqlOpt: Option[String] = bpeOracleCtx.map { case (s, dir) =>
    val merges = bpeMergesFor(s, dir)
    val n = merges.length
    def esc(x: String) = x.replace("'", "''")
    val mrows =
      if (merges.isEmpty) "(0, '', '')"
      else merges.zipWithIndex
        .map { case ((a, b), i) => s"($i, '${esc(a)}', '${esc(b)}')" }
        .mkString(",\n    ")
    s"""WITH RECURSIVE bm(r, a, b) AS (VALUES
       |    $mrows),
       |btoked AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> length(x) > 0) AS tks
       |  FROM documents),
       |btok AS (SELECT doc_id, unnest(tks) AS tk FROM btoked),
       |bd AS (SELECT DISTINCT tk FROM btok),
       |binit AS (SELECT tk,
       |  CASE WHEN contains(tk, chr(31))
       |    THEN error('bpe oracle: token contains the U+001F separator')
       |    ELSE list_aggregate(list_transform(range(1, length(tk) + 1),
       |           i -> chr(31) || substr(tk, i, 1) || chr(31)), 'string_agg', '')
       |  END AS st FROM bd),
       |brec AS (
       |  SELECT tk, st, 0 AS r FROM binit
       |  UNION ALL
       |  SELECT brec.tk,
       |    replace(brec.st, chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31),
       |            chr(31) || m.a || m.b || chr(31)),
       |    brec.r + 1
       |  FROM brec JOIN bm m ON m.r = brec.r
       |  WHERE brec.r < $n),
       |bp AS (SELECT tk,
       |  (length(st) - length(replace(st, chr(31), ''))) // 2 AS pieces
       |  FROM brec WHERE r = $n),
       |bagg AS (
       |  SELECT t.doc_id, COUNT(*)::BIGINT AS n_tokens,
       |    SUM(length(t.tk))::BIGINT AS n_cp, SUM(p.pieces)::BIGINT AS n_bpe
       |  FROM btok t JOIN bp p USING (tk)
       |  GROUP BY 1)
       |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       |  coalesce(a.n_cp, 0) AS n_cp, coalesce(a.n_bpe, 0) AS n_bpe
       |FROM documents d LEFT JOIN bagg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Corpus hot n-grams — exact heavy hitters, sublinear candidate pass
  // -------------------------------------------------------------------------

  /**
   * Exact corpus heavy hitters over word BIGRAMS at support `phi`:
   * every bigram occurring in at least `ceil(phi * N)` of the corpus's
   * N bigram slots (hot collocations — boilerplate phrases, template
   * fragments — the phrase-level complement of `dedup_lines`).
   *
   * Scale design — the two-pass Misra–Gries plan, NOT a vocabulary
   * groupBy: pass 1 folds each partition into a ≤`capacity`-counter
   * [[graft.functions.FreqCandidates]] summary (capacity = ⌈1/phi⌉, so
   * by the MG bound the merged summary provably contains every bigram
   * at support phi); only those fixed-size summaries cross the shuffle,
   * however many distinct n-grams the corpus has — at 100 TB a
   * billions-of-ngrams corpus shuffles O(#partitions × capacity)
   * candidate bytes where `text_vocab`'s shape would shuffle a partial
   * count PER DISTINCT NGRAM per partition. Pass 2 re-scans and
   * recounts ONLY candidate bigrams — the `isin` compiles to an O(1)
   * InSet probe that drops the cold tail map-side, so the second
   * shuffle carries ≤ capacity keys' partials. Result is EXACT (the
   * candidate set is a proven superset; the recount is a plain count),
   * which is why the oracle is the naive `GROUP BY … HAVING` — the
   * sketch machinery must be invisible in the output. The corpus is
   * read twice by design: at 100 TB two cheap scans beat one
   * vocabulary-wide exchange.
   *
   * Reference scope: corpus statistics beyond the reference's surface
   * (SemanticDatabase.cs has no analytics); the tokenization matches
   * `text_vocab` so the two compose.
   */
  /** Adjacent word pairs of a text column — ONE definition shared by the
    * batch query and [[graft.streaming.StreamOps.hhStream]] so the
    * n-gram rule cannot drift between them. Slice never over-reads:
    * both shifted slices have size-1 elements. */
  private[graft] def bigramsOf(text: Column): Column = {
    val ts = toks(text)
    val n1 = greatest(size(ts) - lit(1), lit(0))
    zip_with(slice(ts, lit(1), n1), slice(ts, lit(2), n1),
      (a, b) => concat(a, lit(" "), b))
  }

  def textHotNgrams(s: SparkSession, dir: String, phi: Double = 0.001): DataFrame = {
    graft.functions.registerAll(s)
    val capacity = math.ceil(1.0 / phi).toInt
    def bg = t(s, dir, "documents").select(explode(bigramsOf(col("text"))).as("bigram"))
    val first = bg.agg(
        graft.functions.freq_candidates(col("bigram"), capacity).as("cands"),
        count(lit(1)).as("n"))
      .head()
    val cands = first.getSeq[String](0)
    val total = first.getLong(1)
    val threshold = math.ceil(phi * total).toLong
    bg.filter(col("bigram").isin(cands: _*))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
      .orderBy(col("cnt").desc, col("bigram"))
  }

  /** Oracle = the NAIVE exact plan: same tokenization as the Spark side
    * (`toks`), 1-based adjacent pairs, `HAVING count ≥ ⌈phi·N⌉` with the
    * identical double threshold arithmetic. The MG candidate pass must
    * not change a single output row. */
  val textHotNgramsSql: String =
    """WITH toksv AS (
      |  SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                     x -> length(x) > 0) AS ts
      |  FROM documents),
      |bg AS (
      |  SELECT ts[i] || ' ' || ts[i + 1] AS bigram
      |  FROM toksv, unnest(range(1, len(ts))) AS t(i)),
      |tot AS (SELECT count(*) AS n FROM bg)
      |SELECT bigram, count(*) AS cnt
      |FROM bg
      |GROUP BY bigram
      |HAVING count(*) >= (SELECT CAST(CEIL(0.001 * n) AS BIGINT) FROM tot)
      |ORDER BY cnt DESC, bigram""".stripMargin

  // -------------------------------------------------------------------------
  // Per-document keyword extraction (tf-idf)
  // -------------------------------------------------------------------------

  /**
   * Top-3 keywords per document by smoothed tf-idf
   * (idf = ln((1+N)/(1+df)) + 1, the scikit-learn smoothing) — the
   * metadata-enrichment step that tags every training document with its
   * most distinctive terms (dataset search, topic bucketing, mixture
   * audits).
   *
   * Scale design: term frequencies are one partial-aggregated groupBy
   * over (doc_id, token); document frequencies are a token-level
   * aggregate of the SAME frame (vocab-sized — Zipf keeps it tiny
   * relative to the corpus); the join back is token-keyed (vocab-sized
   * right side — AQE broadcasts it when it fits). The tf lineage
   * branches (df + join left), so the measured plan tokenizes the
   * corpus TWICE — deliberate: the single-scan alternatives (a count
   * window or collect_list per token partition) buffer every (doc, tf)
   * row of a token in one task, and a stopword's partition is
   * corpus-sized at 100 TB. Two cheap scans beat one unbounded buffer;
   * a deployment that reuses tf downstream persists it explicitly
   * (caching is opt-in per the engine convention). The
   * per-doc top-3 is `slice(sort_array(...))` over per-doc structs —
   * per-group state is bounded by DOC length (the same bound every
   * per-doc kernel here already holds), not by the corpus, so no
   * window over a corpus-wide sort is needed.
   *
   * Determinism: score sorts on the exact double (-tfidf, token) pair;
   * rounding happens only at output — mirrored in the oracle.
   */
  def textKeywords(s: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val docs = t(s, dir, "documents")
    val nDocs = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "token")
      .select(col("doc_id"), col("token"),
        (col("tf").cast("double") *
          (log((lit(1.0) + lit(nDocs.toDouble)) / (lit(1.0) + col("df").cast("double")))
            + lit(1.0))).as("tfidf"))
    scored
      .groupBy(col("doc_id"))
      .agg(slice(sort_array(collect_list(struct(
        (-col("tfidf")).as("neg"), col("token")))), 1, topK).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), (col("pos") + 1).as("rank"),
        col("col.token").as("token"),
        round(-col("col.neg"), 4).as("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Oracle: same tf/df/idf arithmetic; the per-doc cut is the
    * equivalent row_number over (-tfidf, token). */
  val textKeywordsSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                       x -> length(x) > 0)) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |nd AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.token,
      |    CAST(tf.tf AS DOUBLE) *
      |      (ln((1.0 + CAST(nd.n AS DOUBLE)) / (1.0 + CAST(df.df AS DOUBLE))) + 1.0)
      |      AS tfidf
      |  FROM tf JOIN df USING (token), nd),
      |ranked AS (
      |  SELECT doc_id, token, tfidf,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY -tfidf, token) AS rank
      |  FROM scored)
      |SELECT doc_id, CAST(rank AS INTEGER) AS rank, token, ROUND(tfidf, 4) AS tfidf
      |FROM ranked WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /**
   * PMI collocation extraction — which token pairs co-occur in the
   * same document far beyond chance (`PMI = ln(n·df_ab /
   * (df_a·df_b))` over document-level presence)? The classic
   * term-association miner behind phrase detection, topic seeding,
   * and template discovery (a boilerplate fragment shows up as a
   * clique of near-maximal-PMI pairs).
   *
   * Scale design: pair enumeration over an UNBOUNDED per-doc
   * vocabulary is quadratic (a 300-distinct-token doc emits 45 K
   * pairs), so pairs are restricted to a corpus-wide frequent-term
   * vocabulary first — top `vocabK` tokens by document frequency
   * (ties by token; a bounded TakeOrdered over the vocab-sized df
   * frame), broadcast back as an `isin` prune. Per doc the surviving
   * distinct tokens are a handful, the self-join runs INSIDE the row
   * (array of kept tokens → in-row pair explode), and only (pair,
   * count) rows — vocab²-bounded, corpus-independent — ever shuffle.
   * Output: top `topK` pairs by PMI among pairs seen ≥ `minDf` docs.
   */
  /** textCooccur's vocab cut + corpus count, memoized per (session,
    * dir, vocabK) — two driver actions whose results are stable per
    * corpus (the r13 memo discipline: don't re-pay plan-time corpus
    * passes on repeated queries over the same frame). */
  private val cooccurMemo =
    new graft.operators.SessionMemo[(Array[String], java.lang.Double)](max = 32)

  def textCooccur(s: SparkSession, dir: String, vocabK: Int = 256,
      minDf: Int = 5, topK: Int = 50): DataFrame = {
    val docs = t(s, dir, "documents")
    val docToks = docs.select(col("doc_id"),
      array_distinct(toks(col("text"))).as("tk"))
    val df = docToks.select(explode(col("tk")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val (vocab, nBoxed) = cooccurMemo.getOrElseUpdate(
      s"${graft.operators.SessionMemo.sessionKey(s)}#$dir#$vocabK", {
        (df.orderBy(col("df").desc, col("token")).limit(vocabK)
          .collect().map(_.getString(0)),
          Double.box(docs.count().toDouble))
      })
    val n = Double.unbox(nBoxed)
    val kept = docToks.select(col("doc_id"),
      sort_array(filter(col("tk"), t => t.isin(vocab.toSeq: _*))).as("kt"))
    val pairs = kept
      .select(explode(expr(
        """flatten(transform(kt, (a, i) ->
          |  transform(slice(kt, i + 2, size(kt)), b -> struct(a, b))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .agg(count(lit(1)).as("df_ab"))
      .filter(col("df_ab") >= minDf)
    pairs
      .join(df.select(col("token").as("tok_a"), col("df").as("df_a")), "tok_a")
      .join(df.select(col("token").as("tok_b"), col("df").as("df_b")), "tok_b")
      .select(col("tok_a"), col("tok_b"), col("df_ab"),
        (floor(log(lit(n) * col("df_ab") /
          (col("df_a") * col("df_b"))) * 1e6 + 0.5) / 1e6).as("pmi"))
      .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
      .limit(topK)
  }

  /** Same vocabulary cut, same in-doc distinct pairs, same ln. */
  val textCooccurSql: String =
    """WITH dt AS (
      |  SELECT doc_id,
      |    list_distinct(list_filter(
      |      regexp_split_to_array(lower(trim(text)), '\s+'),
      |      x -> length(x) > 0)) AS tk
      |  FROM documents),
      |df AS (
      |  SELECT token, count(*) AS df
      |  FROM (SELECT doc_id, unnest(tk) AS token FROM dt)
      |  GROUP BY token),
      |vocab AS (SELECT token FROM df ORDER BY df DESC, token LIMIT 256),
      |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |kept AS (
      |  SELECT doc_id, token
      |  FROM (SELECT doc_id, unnest(tk) AS token FROM dt)
      |  WHERE token IN (SELECT token FROM vocab)),
      |pr AS (
      |  SELECT a.token AS tok_a, b.token AS tok_b, count(*) AS df_ab
      |  FROM kept a JOIN kept b
      |    ON a.doc_id = b.doc_id AND a.token < b.token
      |  GROUP BY 1, 2
      |  HAVING count(*) >= 5)
      |SELECT tok_a, tok_b, df_ab,
      |  FLOOR(ln(nd.n * df_ab / (da.df * db.df)) * 1e6 + 0.5) / 1e6 AS pmi
      |FROM pr
      |JOIN df da ON da.token = pr.tok_a
      |JOIN df db ON db.token = pr.tok_b, nd
      |ORDER BY pmi DESC, tok_a, tok_b
      |LIMIT 50""".stripMargin

  // -------------------------------------------------------------------------
  // Token-distribution drift audit
  // -------------------------------------------------------------------------

  /**
   * Corpus drift audit: which tokens differ most between the `en`
   * slice and the rest of the corpus (|P_A(token) − P_B(token)|, top
   * 20)? The distribution-shift check a pipeline runs between corpus
   * snapshots, sources, or mixture slices before a training run —
   * drifted token mass is how template floods, language-mix shifts and
   * crawler regressions first show up.
   *
   * Scale design: ONE tokenize pass with a side flag; the groupBy
   * carries (token, 2 longs) — vocab-sized, Zipf-tiny vs the corpus;
   * the two totals come off the grouped frame (a second aggregate over
   * vocab-sized data, not a corpus re-scan); the final cut is
   * TakeOrdered 20. Probabilities divide by side totals so the metric
   * is size-invariant between slices.
   */
  def textDrift(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val tok = t(s, dir, "documents")
      .select((col("lang") === "en").as("is_en"),
        explode(toks(col("text"))).as("token"))
    val grouped = tok.groupBy(col("token"))
      .agg(sum(when(col("is_en"), 1L).otherwise(0L)).as("c_en"),
        sum(when(col("is_en"), 0L).otherwise(1L)).as("c_rest"))
    val tot = grouped.agg(sum(col("c_en")), sum(col("c_rest"))).head()
    val (nEn, nRest) = (tot.getLong(0), tot.getLong(1))
    // an empty slice contributes zero probability mass everywhere (the
    // whole drift is then the other slice's distribution) — a defined
    // answer instead of an ANSI divide-by-zero on single-slice corpora
    def p(c: Column, n: Long) =
      if (n == 0L) lit(0.0) else c.cast("double") / lit(n.toDouble)
    grouped
      .select(col("token"),
        p(col("c_en"), nEn).as("p_en"),
        p(col("c_rest"), nRest).as("p_rest"))
      .select(col("token"), round(col("p_en"), 6).as("p_en"),
        round(col("p_rest"), 6).as("p_rest"),
        round(abs(col("p_en") - col("p_rest")), 6).as("drift"))
      .orderBy(col("drift").desc, col("token"))
      .limit(topK)
  }

  /** Oracle: identical counts, totals, double division, rounding and
    * (drift desc, token) cut. Note the ORDER BY sorts the UNROUNDED
    * drift on the Spark side only after rounding — both sides order by
    * the ROUNDED value then token, so the cut is identical. */
  val textDriftSql: String =
    """WITH tok AS (
      |  SELECT (lang = 'en') AS is_en,
      |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                       x -> length(x) > 0)) AS token
      |  FROM documents),
      |grouped AS (
      |  SELECT token,
      |    SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS c_en,
      |    SUM(CASE WHEN is_en THEN 0 ELSE 1 END) AS c_rest
      |  FROM tok GROUP BY token),
      |tot AS (SELECT CAST(SUM(c_en) AS DOUBLE) AS n_en,
      |               CAST(SUM(c_rest) AS DOUBLE) AS n_rest FROM grouped),
      |p AS (
      |  SELECT token,
      |    CASE WHEN n_en = 0 THEN 0.0
      |         ELSE CAST(c_en AS DOUBLE) / n_en END AS pe,
      |    CASE WHEN n_rest = 0 THEN 0.0
      |         ELSE CAST(c_rest AS DOUBLE) / n_rest END AS pr
      |  FROM grouped, tot)
      |SELECT token, ROUND(pe, 6) AS p_en, ROUND(pr, 6) AS p_rest,
      |  ROUND(ABS(pe - pr), 6) AS drift
      |FROM p
      |ORDER BY drift DESC, token
      |LIMIT 20""".stripMargin

  // -------------------------------------------------------------------------
  // Code detection (corpus routing)
  // -------------------------------------------------------------------------

  /**
   * Code-vs-prose routing signal: mixed crawls route code to a code
   * pipeline (different dedup granularity, different quality rules,
   * different tokenizer budget) — misrouted code poisons prose
   * perplexity stats and vice versa. Three cheap structural signals,
   * each exactly replayable:
   * symbol density (`{}()[];=<>` via translate-length difference),
   * indented-line fraction (lines opening with space/tab), and
   * code-keyword token hits; `is_code` fires on 2 of 3 threshold votes
   * (symbol ≥ 0.03, indent ≥ 0.2, keywords ≥ 2). Pure per-row
   * scan-speed math, zero shuffle beyond the presentational sort. The
   * gate corpus is prose so corpus verdicts are honestly all-false
   * (the text_pii discipline); CodeDetectSpec plants real code and
   * asserts the votes.
   */
  def textCodeDetect(s: SparkSession, dir: String): DataFrame =
    codeDetectBody(t(s, dir, "documents")).orderBy(col("doc_id"))

  /** Shared body over any (doc_id, text) frame — the spec plants code
    * documents through this; a stream gate would reuse it unchanged. */
  private[graft] def codeDetectBody(docs: DataFrame): DataFrame = {
    val txt = col("text")
    val nChars = length(txt)
    val nSym = nChars - length(translate(txt, "{}()[];=<>", ""))
    val lines = split(txt, "\n")
    val nLines = size(lines)
    val nIndent = size(filter(lines, l =>
      startswith(l, lit(" ")) || startswith(l, lit("	"))))
    val kw = typedLit(Seq("def", "class", "return", "import", "function",
      "var", "let", "const", "if", "else", "for", "while"))
    val kwHits = size(filter(toks(txt), t => array_contains(kw, t)))
    // split("") yields [""] so nLines ≥ 1 always; nChars can be 0
    val symFrac = when(nChars === 0, 0.0)
      .otherwise(nSym.cast("double") / nChars.cast("double"))
    val indentFrac = nIndent.cast("double") / nLines.cast("double")
    val votes = when(symFrac >= 0.03, 1).otherwise(0) +
      when(indentFrac >= 0.2, 1).otherwise(0) +
      when(kwHits >= 2, 1).otherwise(0)
    docs.select(col("doc_id"),
      nSym.as("n_sym"),
      round(symFrac, 4).as("sym_frac"),
      round(indentFrac, 4).as("indent_frac"),
      kwHits.as("kw_hits"),
      (votes >= 2).as("is_code"))
  }

  /** Oracle: identical translate/line/keyword arithmetic and the same
    * 2-of-3 vote. */
  val textCodeDetectSql: String =
    """WITH sig AS (
      |  SELECT doc_id,
      |    length(text) - length(translate(text, '{}()[];=<>', '')) AS n_sym,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |         ELSE CAST(length(text) - length(translate(text, '{}()[];=<>', '')) AS DOUBLE)
      |              / length(text) END AS sym_frac,
      |    CAST(len(list_filter(string_split(text, chr(10)),
      |           l -> l LIKE ' %' OR l LIKE chr(9) || '%')) AS DOUBLE)
      |      / len(string_split(text, chr(10))) AS indent_frac,
      |    len(list_filter(
      |      list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                  x -> length(x) > 0),
      |      t -> t IN ('def','class','return','import','function',
      |                 'var','let','const','if','else','for','while'))) AS kw_hits
      |  FROM documents)
      |SELECT doc_id, n_sym, ROUND(sym_frac, 4) AS sym_frac,
      |  ROUND(indent_frac, 4) AS indent_frac, kw_hits,
      |  ((CASE WHEN sym_frac >= 0.03 THEN 1 ELSE 0 END) +
      |   (CASE WHEN indent_frac >= 0.2 THEN 1 ELSE 0 END) +
      |   (CASE WHEN kw_hits >= 2 THEN 1 ELSE 0 END)) >= 2 AS is_code
      |FROM sig
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Readability scoring
  // -------------------------------------------------------------------------

  /**
   * Flesch–Kincaid grade level per document (Kincaid 1975) with the
   * standard vowel-group syllable heuristic — the readability knob of
   * a curation mix (kid-safe corpora cap it, technical corpora floor
   * it; pairs with `text_quality`'s structural stats). Grade =
   * 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59, with
   * syllables ≈ `[aeiouy]+` runs and sentences ≈ `[.!?]+` runs
   * (floored at 1). Pure per-row regex counting — scan-speed, no
   * shuffle beyond the presentational sort; token-less docs yield
   * NULL, not a division error.
   */
  def textReadability(s: SparkSession, dir: String): DataFrame = {
    val txt = lower(col("text"))
    val words = size(toks(col("text")))
    val syll = regexp_count(txt, lit("[aeiouy]+"))
    val sent = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
    t(s, dir, "documents").select(
      col("doc_id"), words.as("n_words"), syll.as("n_syllables"),
      sent.as("n_sentences"),
      when(words > 0, round(
        lit(0.39) * (words.cast("double") / sent.cast("double")) +
          lit(11.8) * (syll.cast("double") / words.cast("double")) -
          lit(15.59), 4)).as("fk_grade"))
      .orderBy(col("doc_id"))
  }

  val textReadabilitySql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                    x -> length(x) > 0)) AS n_words,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables,
      |    GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences
      |  FROM documents)
      |SELECT doc_id, n_words, n_syllables, n_sentences,
      |  CASE WHEN n_words > 0 THEN ROUND(
      |    0.39 * (CAST(n_words AS DOUBLE) / n_sentences) +
      |    11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 4) END AS fk_grade
      |FROM f
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Safety blocklist gate
  // -------------------------------------------------------------------------

  /** Category → blocklisted tokens. Tiny and plan-literal by design:
    * real deployments broadcast a dictionary; the mechanics (token-
    * boundary matching, per-category counts, severity gate) are what
    * the operator pins. Placeholder terms — the gate corpus contains
    * none (honest zeros, the text_pii discipline); the spec plants
    * hits. */
  val blocklist: Seq[(String, Seq[String])] = Seq(
    "violence" -> Seq("stabfoo", "gorebar"),
    "spamlike" -> Seq("freemoneyx", "clickbaitz", "winbignow"))

  /**
   * Blocklist-based safety gate — the list-driven filter every
   * production corpus still runs in front of (or beside) the trained
   * classifier (`text_classify`): per-category TOKEN-boundary hit
   * counts (no substring false positives — "scunthorpe" stays safe)
   * and a keep verdict (any violence hit, or ≥ 2 spam-like hits,
   * drops the doc). Pure per-row membership tests against plan-literal
   * arrays — scan speed, zero shuffle; swapping in a real list is a
   * constant change.
   */
  def textBlocklist(s: SparkSession, dir: String): DataFrame =
    blocklistBody(t(s, dir, "documents")).orderBy(col("doc_id"))

  /** Shared body over any (doc_id, text) frame (spec planting). */
  private[graft] def blocklistBody(docs: DataFrame): DataFrame = {
    val tk = toks(col("text"))
    val hits = blocklist.map { case (cat, words) =>
      cat -> size(filter(tk, t => array_contains(typedLit(words), t)))
    }
    // the gate is keyed by CATEGORY NAME, not list position — reordering
    // or extending `blocklist` must not silently rewire severities
    val byCat = hits.toMap
    require(byCat.contains("violence") && byCat.contains("spamlike"),
      "blocklist gate expects the violence and spamlike categories")
    val keep = (byCat("violence") === 0) && (byCat("spamlike") < 2)
    docs.select(col("doc_id") +:
      hits.map { case (cat, cnt) => cnt.as(s"n_$cat") } :+
      keep.as("keep"): _*)
  }

  val textBlocklistSql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                x -> length(x) > 0) AS ts
      |  FROM documents)
      |SELECT doc_id,
      |  len(list_filter(ts, t -> t IN ('stabfoo', 'gorebar'))) AS n_violence,
      |  len(list_filter(ts, t -> t IN ('freemoneyx', 'clickbaitz', 'winbignow'))) AS n_spamlike,
      |  len(list_filter(ts, t -> t IN ('stabfoo', 'gorebar'))) = 0 AND
      |    len(list_filter(ts, t -> t IN ('freemoneyx', 'clickbaitz', 'winbignow'))) < 2 AS keep
      |FROM tk
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Canary contamination scan
  // -------------------------------------------------------------------------

  /** Planted canary strings (GUID-shaped — the form real eval suites
    * embed so leakage is a substring hit, not a fuzzy match). The gate
    * corpus contains none (honest zeros); the spec plants hits. */
  val canaries: Seq[String] = Seq(
    "canary-9f3ab77e-01",
    "canary-4d21c08a-02",
    "canary-e5b6f912-03")

  /**
   * Canary contamination scan — the literal-marker complement of
   * `dedup_decontaminate` (n-gram overlap): eval suites and
   * red-team sets embed GUID canaries precisely so that a TRAINING
   * corpus can be audited with a plain substring scan; any hit is
   * proof of leakage, no similarity threshold to argue about. Output:
   * per canary, the hit count and the first offending doc (−1 when
   * clean) — the audit table filed with each corpus release.
   *
   * Scale: the canary list broadcasts; the scan is one map-side
   * `contains` pass per canary over the corpus (k·N substring tests,
   * fused in one codegen stage); only (canary, id) hits shuffle.
   */
  def textCanary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cs = canaries.toDF("canary")
    val hits = t(s, dir, "documents").crossJoin(broadcast(cs))
      .filter(col("text").contains(col("canary")))
      .groupBy(col("canary"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
    cs.join(hits, Seq("canary"), "left")
      .select(col("canary"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("first_doc"), lit(-1L)).as("first_doc"))
      .orderBy(col("canary"))
  }

  val textCanarySql: String =
    """WITH cs(canary) AS (VALUES
      |  ('canary-9f3ab77e-01'), ('canary-4d21c08a-02'), ('canary-e5b6f912-03')),
      |hits AS (
      |  SELECT canary, count(*) AS n_docs, min(doc_id) AS first_doc
      |  FROM documents d JOIN cs ON contains(d.text, cs.canary)
      |  GROUP BY canary)
      |SELECT cs.canary,
      |  COALESCE(hits.n_docs, 0) AS n_docs,
      |  COALESCE(hits.first_doc, -1) AS first_doc
      |FROM cs LEFT JOIN hits USING (canary)
      |ORDER BY cs.canary""".stripMargin

  // -------------------------------------------------------------------------
  // Classifier evaluation (langid confusion matrix)
  // -------------------------------------------------------------------------

  /**
   * Model-evaluation pass: the langid heuristic's CONFUSION MATRIX
   * against the labeled `lang` column, with per-(truth, pred) counts
   * and per-cell precision/recall denominators — how a pipeline
   * audits its own classifiers before trusting their gates (the same
   * report a trained `text_classify` swap-in would be held to).
   * Honest by construction: the marker heuristic genuinely confuses
   * classes on real text (zh has no markers → predicted `und`), so the
   * matrix is not a vanity diagonal.
   *
   * Scale: the prediction is the shared [[textLangid]] scan-speed
   * kernel; the matrix is one |langs|² partial-aggregated groupBy;
   * precision/recall come from two window sums over the matrix
   * (constant-sized), not from corpus re-scans.
   */
  def qLangidEval(s: SparkSession, dir: String): DataFrame = {
    val pred = textLangid(s, dir).select(col("doc_id"), col("lang_pred"))
    val truth = t(s, dir, "documents").select(col("doc_id"), col("lang").as("lang_true"))
    val m = truth.join(pred, "doc_id")
      .groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val wPred = org.apache.spark.sql.expressions.Window.partitionBy(col("lang_pred"))
    val wTrue = org.apache.spark.sql.expressions.Window.partitionBy(col("lang_true"))
    // floor-based 4-dp rounding: Spark's round() HALF_UPs the DECIMAL
    // STRING of the double while DuckDB rounds the binary value, and a
    // ratio landing on a .00005 boundary (3/20000) splits the two —
    // floor(x·10⁴ + 0.5)/10⁴ is plain double arithmetic, identical in
    // both engines for any input
    def r4(x: Column): Column = floor(x * lit(10000.0) + lit(0.5)) / lit(10000.0)
    m.withColumn("precision",
        r4(col("n").cast("double") / sum(col("n")).over(wPred)))
      .withColumn("recall",
        r4(col("n").cast("double") / sum(col("n")).over(wTrue)))
      .orderBy(col("lang_true"), col("lang_pred"))
  }

  /** The langid CTE re-used verbatim as a subquery, then the matrix +
    * window ratios. */
  val qLangidEvalSql: String =
    "WITH pred AS (\n" + textLangidSql + """),
      |m AS (
      |  SELECT d.lang AS lang_true, p.lang_pred, count(*) AS n
      |  FROM documents d JOIN pred p USING (doc_id)
      |  GROUP BY 1, 2)
      |SELECT lang_true, lang_pred, n,
      |  FLOOR(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang_pred) * 10000.0 + 0.5) / 10000.0 AS precision,
      |  FLOOR(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang_true) * 10000.0 + 0.5) / 10000.0 AS recall
      |FROM m
      |ORDER BY lang_true, lang_pred""".stripMargin

  // -------------------------------------------------------------------------
  // Per-source language-mix entropy
  // -------------------------------------------------------------------------

  /**
   * Language-mix entropy per source — the mix audit next to
   * `q_mix_rebalance`'s weights: per (source, lang) share and the
   * Shannon term `−p·ln p`, whose per-source sum is the mix entropy
   * (0 = monolingual feed; ln k = perfectly balanced over k). A feed
   * that silently switched language mid-crawl, or a "multilingual"
   * source that is 99 % one language, is one scan of this table. Term
   * rows (not a per-source double sum) keep the output hash-exact.
   *
   * Scale: one counts-only partial agg to the (source, lang) grain,
   * then a source-grain totals join of two already-tiny frames.
   */
  def qSourceEntropy(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "documents")
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("source")).agg(sum(col("n")).as("tt"))
    c.join(tot, "source")
      .select(col("source"), col("lang"), col("n"),
        (floor(col("n").cast("double") / col("tt") * 1e6 + 0.5) / 1e6)
          .as("share"),
        (floor(-(col("n").cast("double") / col("tt")) *
          log(col("n").cast("double") / col("tt")) * 1e6 + 0.5) / 1e6)
          .as("ent_term"))
      .orderBy(col("source"), col("lang"))
  }

  /** Same grains, same share and term chains. */
  val qSourceEntropySql: String =
    """WITH c AS (
      |  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
      |tot AS (SELECT source, SUM(n) AS tt FROM c GROUP BY source)
      |SELECT c.source, c.lang, c.n,
      |  FLOOR(CAST(n AS DOUBLE) / tt * 1e6 + 0.5) / 1e6 AS share,
      |  FLOOR(-(CAST(n AS DOUBLE) / tt) * ln(CAST(n AS DOUBLE) / tt)
      |        * 1e6 + 0.5) / 1e6 AS ent_term
      |FROM c JOIN tot USING (source)
      |ORDER BY c.source, c.lang""".stripMargin

  // -------------------------------------------------------------------------
  // Zipf-law fit (corpus-health audit)
  // -------------------------------------------------------------------------

  /**
   * Zipf-law fit over the token frequency spectrum — the corpus-health
   * number linguists and data-quality teams both read: natural
   * language follows `freq ∝ rank^s` with s ≈ −1; a slope far from −1
   * flags template/boilerplate floods (flat head, s → 0) or
   * near-duplicate spam (cliff). Fit = Theil–Sen median slope (the
   * [[graft.queries.RelationalQueries.qTrend]] robust-regression
   * discipline — an OLS fit would let one anomalous head token drag
   * the line) over (ln rank, ln count) of the top-`topN` tokens;
   * intercept from the coordinate medians.
   *
   * Scale: ONE vocab-grain partial agg + a topN TakeOrdered cut; all
   * pair arithmetic happens inside a single ≤topN-element array on
   * one row (topN² = 4,950 pairs at the default — constant work,
   * independent of corpus size). Lower-median selections and 6-dp
   * floors replayed exactly by the oracle → hash gate.
   */
  def textZipf(s: SparkSession, dir: String, topN: Int = 100): DataFrame = {
    val top = t(s, dir, "documents")
      // the SHARED tokenizer — an inline copy could silently diverge
      // from the rest of the text family
      .select(explode(toks(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(topN)
    top
      .agg(sort_array(collect_list(struct((-col("cnt")).as("negc"),
        col("token").as("tk")))).as("xs"))
      .select(size(col("xs")).as("n_tokens"),
        expr("""transform(xs, (x, i) -> struct(
          |  ln(CAST(i + 1 AS DOUBLE)) AS lx,
          |  ln(CAST(-x.negc AS DOUBLE)) AS ly))""".stripMargin).as("ps"))
      .select(col("n_tokens"),
        expr("""sort_array(flatten(transform(ps, (p, i) ->
          |  transform(slice(ps, i + 2, size(ps)), q ->
          |    (q.ly - p.ly) / (q.lx - p.lx)))))""".stripMargin).as("slopes"),
        expr("transform(ps, p -> p.lx)").as("lxs"),
        expr("sort_array(transform(ps, p -> p.ly))").as("lys"))
      // the qTrend guard (RelationalQueries.scala): a corpus with < 2
      // distinct tokens has no pair slopes — NULL-degrade like the
      // oracle's empty-aggregate NULL, don't throw on element_at(…, 1)
      .select(col("n_tokens"),
        when(size(col("slopes")) > 0, element_at(col("slopes"),
          (floor((size(col("slopes")) - 1) / 2) + 1).cast("int"))).as("slope"),
        when(size(col("lxs")) > 0, element_at(col("lxs"),
          (floor((size(col("lxs")) - 1) / 2) + 1).cast("int"))).as("med_lx"),
        when(size(col("lys")) > 0, element_at(col("lys"),
          (floor((size(col("lys")) - 1) / 2) + 1).cast("int"))).as("med_ly"))
      .select(col("n_tokens"),
        (floor(col("slope") * 1e6 + 0.5) / 1e6).as("slope"),
        (floor((col("med_ly") - col("slope") * col("med_lx")) * 1e6 + 0.5)
          / 1e6).as("intercept"))
  }

  /** Same top cut, same pair slopes, same lower-median selections. */
  val textZipfSql: String =
    """WITH tok AS (
      |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                            x -> length(x) > 0)) AS token
      |  FROM documents),
      |top AS (
      |  SELECT token, count(*) AS cnt FROM tok GROUP BY token
      |  ORDER BY cnt DESC, token LIMIT 100),
      |pts AS (
      |  SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, token) AS DOUBLE))
      |    AS lx, ln(CAST(cnt AS DOUBLE)) AS ly
      |  FROM top),
      |sl AS (
      |  SELECT (b.ly - a.ly) / (b.lx - a.lx) AS s
      |  FROM pts a JOIN pts b ON b.lx > a.lx),
      |slr AS (SELECT s, row_number() OVER (ORDER BY s) AS rn,
      |               count(*) OVER () AS m FROM sl),
      |slope AS (SELECT max(CASE WHEN rn = (m - 1) // 2 + 1 THEN s END) AS slope
      |          FROM slr),
      |lxr AS (SELECT lx, row_number() OVER (ORDER BY lx) AS rn,
      |               count(*) OVER () AS m FROM pts),
      |lyr AS (SELECT ly, row_number() OVER (ORDER BY ly) AS rn,
      |               count(*) OVER () AS m FROM pts),
      |med AS (
      |  SELECT (SELECT max(CASE WHEN rn = (m - 1) // 2 + 1 THEN lx END) FROM lxr)
      |    AS med_lx,
      |    (SELECT max(CASE WHEN rn = (m - 1) // 2 + 1 THEN ly END) FROM lyr)
      |    AS med_ly)
      |SELECT (SELECT CAST(count(*) AS INT) FROM pts) AS n_tokens,
      |  FLOOR(slope * 1e6 + 0.5) / 1e6 AS slope,
      |  FLOOR((med_ly - slope * med_lx) * 1e6 + 0.5) / 1e6 AS intercept
      |FROM slope, med""".stripMargin

  // -------------------------------------------------------------------------
  // First-occurrence novelty (memorization / template-flood signal)
  // -------------------------------------------------------------------------

  /**
   * Per-document n-gram NOVELTY (r10): the fraction of a doc's distinct
   * word-3-grams whose corpus-wide FIRST appearance (min doc_id — the
   * ingestion order) is this document. Template floods, scraped mirrors
   * and boilerplate-heavy docs score near 0; genuinely new content near
   * 1 — the per-doc complement of dedup: "how much of this doc has the
   * corpus already seen". Deduplication literature uses exactly this
   * first-occurrence attribution for train-set memorization audits.
   *
   * Scale shape: grams explode once, then only (128-bit gram
   * fingerprint, doc_id) rows shuffle — first-occurrence is a min()
   * groupBy at gram grain, joined back to the doc-grain distinct rows.
   * Gram STRINGS never shuffle, and the key is the same two-salt fp128
   * pair the dedup family uses (a 64-bit key collides at web scale and
   * would silently attribute a gram's first occurrence to an unrelated
   * doc); the oracle counts by the strings themselves, so a hash
   * agreement additionally certifies the projection collision-free on
   * the gate corpus.
   */
  def textNovelty(s: SparkSession, dir: String): DataFrame = {
    graft.functions.registerAll(s)
    val docs = t(s, dir, "documents")
    val g = docs.select(col("doc_id"),
        explode(graft.functions.word_ngrams(col("text"), 3)).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("fp1"),
        xxhash64(lit("graft:novelty-fp2"), col("gram")).as("fp2"))
      .distinct()
    val first = g.groupBy(col("fp1"), col("fp2"))
      .agg(min(col("doc_id")).as("first_doc"))
    val agg = g.join(first, Seq("fp1", "fp2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          floor(col("n_novel").cast("double") / col("n_grams") * 1e6 + 0.5)
            / 1e6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Same distinct word-3-grams (the wordNgrams clamp semantics: a
    * short doc emits one truncated gram, a token-less doc emits ''),
    * first occurrence by the gram STRING itself. */
  val textNoveltySql: String =
    """WITH d0 AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                x -> length(x) > 0) AS t
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, gram FROM (
      |    SELECT doc_id,
      |      unnest([coalesce(array_to_string(t[i:i+2], ' '), '')
      |              FOR i IN range(1, greatest(len(t) - 3, 0) + 2)]) AS gram
      |    FROM d0)),
      |fo AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1),
      |agg AS (
      |  SELECT g.doc_id, count(*) AS n_grams,
      |    SUM(CASE WHEN fo.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
      |  FROM g JOIN fo USING (gram) GROUP BY 1)
      |SELECT d.doc_id, CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
      |  CASE WHEN COALESCE(n_grams, 0) > 0 THEN
      |    FLOOR(CAST(n_novel AS DOUBLE) / n_grams * 1e6 + 0.5) / 1e6
      |  END AS novelty
      |FROM documents d LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Within-document duplicated n-gram fraction (the Gopher/RefinedWeb signal)
  // -------------------------------------------------------------------------

  /**
   * Duplicated-5-gram fraction (r11) — the within-document repetition
   * signal the Gopher and RefinedWeb cleaning rules threshold on
   * (`dup_ngram_frac`): what fraction of a doc's word-5-gram
   * OCCURRENCES are repeats of a gram already seen in the same doc.
   * [[textRepetition]] measures the single hottest token/bigram; this
   * catches mid-length boilerplate floods (navigation chrome, lyrics
   * choruses, SEO keyword walls) that no single gram dominates.
   *
   * Scale shape: entirely IN-ROW — occurrence count is ARITHMETIC on
   * the `tok_stats` token count (a doc with T tokens has
   * max(T−n+1, 1) overlapping n-grams — no occurrence array is ever
   * built), and the distinct count is the size of the `word_ngrams`
   * kernel's set; one projection over the documents scan, zero
   * shuffle, zero state (the text_profile ledger). n_grams ≥ 1 always
   * (the wordNgrams clamp emits one truncated gram for short docs), so
   * the fraction is total.
   */
  def textDupNgrams(s: SparkSession, dir: String, n: Int = 5,
      maxDupFrac: Double = 0.3): DataFrame = {
    graft.functions.registerAll(s)
    val nTok = graft.functions.tok_stats(col("text")).getField("n_tokens")
    t(s, dir, "documents")
      .select(col("doc_id"),
        greatest(nTok - (n - 1), lit(1)).cast("long").as("n_grams"),
        size(graft.functions.word_ngrams(col("text"), n)).cast("long")
          .as("n_distinct"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        (floor((col("n_grams") - col("n_distinct")).cast("double")
          / col("n_grams") * 1e6 + 0.5) / 1e6).as("dup_frac"))
      .withColumn("keep", col("dup_frac") <= maxDupFrac)
      .orderBy(col("doc_id"))
  }

  /** The wordNgrams clamp semantics at n = 5 (short docs emit one
    * truncated gram): occurrence count as token arithmetic, distinct
    * count over the materialized gram list, same chain. */
  val textDupNgramsSql: String =
    """WITH d0 AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                x -> length(x) > 0) AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, greatest(len(t) - 4, 1) AS n_grams,
      |    len(list_distinct(
      |      [coalesce(array_to_string(t[i:i+4], ' '), '')
      |       FOR i IN range(1, greatest(len(t) - 5, 0) + 2)])) AS n_distinct
      |  FROM d0)
      |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
      |  CAST(n_distinct AS BIGINT) AS n_distinct,
      |  FLOOR(CAST(n_grams - n_distinct AS DOUBLE)
      |        / n_grams * 1e6 + 0.5) / 1e6 AS dup_frac,
      |  FLOOR(CAST(n_grams - n_distinct AS DOUBLE)
      |        / n_grams * 1e6 + 0.5) / 1e6 <= 0.3 AS keep
      |FROM g
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Script composition (mixed-script / wrong-language-tag audit)
  // -------------------------------------------------------------------------

  /**
   * Per-document SCRIPT composition (r10 continuation): code-point
   * counts per writing system — Latin letters, Cyrillic, Greek, CJK
   * (unified ideographs + kana), and the dominant script + mixed-script
   * flag. The crawl-cleaning signal langid can't give: a "en"-tagged
   * doc that is 40 % Cyrillic is mislabeled or spam (mixed-script
   * confusable injection is a classic SEO/poisoning vector), and
   * script mix is how you ROUTE to per-script tokenizers. Counting is
   * by explicit code-point RANGE classes (`\x{0400}-\x{04FF}` etc.) —
   * Java and RE2 give identical per-code-point semantics for ranges
   * (script-name classes differ subtly between engines), and both
   * regex engines iterate code points, so 4-byte chars count once.
   * Pure map-side `regexp_count`, no shuffle, scan speed.
   */
  def textScriptMix(s: SparkSession, dir: String): DataFrame = {
    val counts = Seq(
      "latin" -> "[a-zA-Z]",
      "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
      "greek" -> "[\\x{0370}-\\x{03FF}]",
      "cjk" -> "[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}]")
    val withCounts = counts.foldLeft(t(s, dir, "documents")
        .select(col("doc_id"), col("text"))) { case (df, (name, re)) =>
      // DSL form, not expr(): a '\x{...}' inside a SQL string literal
      // would lose its backslash to the parser's escape handling
      df.withColumn(s"n_$name",
        regexp_count(col("text"), lit(re)).cast("long"))
    }
    val names = counts.map(_._1)
    val nonzero = names.map(n => when(col(s"n_$n") > 0, 1).otherwise(0))
      .reduce(_ + _)
    // dominant: max count, ties by the fixed family order above
    val dominant = names.foldLeft(lit("none")) { (acc, n) =>
      when(col(s"n_$n") > 0 &&
        names.filter(_ != n).map(o =>
          col(s"n_$n") > col(s"n_$o") ||
            (col(s"n_$n") === col(s"n_$o") &&
              lit(names.indexOf(n)) < lit(names.indexOf(o))))
          .reduce(_ && _), lit(n)).otherwise(acc)
    }
    withCounts.select(
        (col("doc_id") +: names.map(n => col(s"n_$n"))) :+
          dominant.as("dominant") :+ (nonzero >= 2).as("mixed"): _*)
      .orderBy(col("doc_id"))
  }

  /** Same range classes, same counts, same tie order. */
  val textScriptMixSql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS BIGINT)
      |      AS n_latin,
      |    CAST(len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]'))
      |      AS BIGINT) AS n_cyrillic,
      |    CAST(len(regexp_extract_all(text, '[\x{0370}-\x{03FF}]'))
      |      AS BIGINT) AS n_greek,
      |    CAST(len(regexp_extract_all(text,
      |      '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]')) AS BIGINT) AS n_cjk
      |  FROM documents)
      |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk,
      |  CASE
      |    WHEN n_latin > 0 AND n_latin >= n_cyrillic
      |      AND n_latin >= n_greek AND n_latin >= n_cjk THEN 'latin'
      |    WHEN n_cyrillic > 0 AND n_cyrillic > n_latin
      |      AND n_cyrillic >= n_greek AND n_cyrillic >= n_cjk
      |      THEN 'cyrillic'
      |    WHEN n_greek > 0 AND n_greek > n_latin AND n_greek > n_cyrillic
      |      AND n_greek >= n_cjk THEN 'greek'
      |    WHEN n_cjk > 0 AND n_cjk > n_latin AND n_cjk > n_cyrillic
      |      AND n_cjk > n_greek THEN 'cjk'
      |    ELSE 'none' END AS dominant,
      |  (CASE WHEN n_latin > 0 THEN 1 ELSE 0 END
      |   + CASE WHEN n_cyrillic > 0 THEN 1 ELSE 0 END
      |   + CASE WHEN n_greek > 0 THEN 1 ELSE 0 END
      |   + CASE WHEN n_cjk > 0 THEN 1 ELSE 0 END) >= 2 AS mixed
      |FROM c
      |ORDER BY doc_id""".stripMargin
}
