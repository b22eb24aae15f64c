package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._

/**
 * Near-duplicate detection for training-data pipelines (SURVEY.md §2.2).
 *
 * Scale design (100 TB):
 *  - Signatures (minhash / simhash) are computed per-row with codegen'd
 *    higher-order functions — a pure map, zero shuffle.
 *  - The only shuffled payload is `(band, band_hash, doc_id)` — a few
 *    dozen bytes/doc vs. the document text. The self-join that produces
 *    candidate pairs runs on that tiny projection.
 *  - Verification re-joins the text by id, so full text moves only for
 *    candidate pairs (a vanishing fraction of n² at scale).
 *  - All "randomness" (permutation params, hyperplanes) is derived from
 *    fixed seeds at plan time, so results are reproducible cluster-wide.
 */
object DedupQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // -------------------------------------------------------------------------
  // Shared text features
  // -------------------------------------------------------------------------

  /** Distinct character k-shingles of a text column — native one-pass
    * kernel ([[graft.functions.CharShingles]]; an equivalent
    * `transform`/`array_distinct` HOF costs O(k·len) boxed substrings
    * per row). Needs [[registerAll]] on the session. */
  def charShingles(text: Column, k: Int): Column = char_shingles(text, k)

  /** Whitespace tokens, lowercased. */
  private def toks(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Distinct word n-grams of a text column — native one-pass kernel
    * ([[graft.functions.WordNgrams]]; the HOF formulation re-evaluates
    * the tokenizer per position because lambdas defeat subexpression
    * elimination). Needs [[registerAll]]. */
  def wordNgrams(text: Column, n: Int): Column = word_ngrams(text, n)

  /** Exact Jaccard similarity of two array columns read as sets
    * (double) — the one-pass [[graft.functions.SetJaccard]] kernel.
    * Needs [[registerAll]]. */
  def jaccard(a: Column, b: Column): Column = set_jaccard(a, b)

  /** Two independently-salted xxhash64 views of a value, as columns
    * `fp1`/`fp2` — the shared 128-bit fingerprint for exact-identity
    * collapse (~24 bytes shuffled instead of the value; collisions are
    * birthday-bounded at ~2⁶⁴ values, negligible at any design scale).
    * One helper so the salt discipline can't drift between the
    * shingle-set, vector, and chunk collapse paths. */
  private[queries] def fp128(c: Column, salt2: String): Seq[Column] =
    Seq(xxhash64(c).as("fp1"), xxhash64(lit(salt2), c).as("fp2"))

  // -------------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------------

  /** 64-slot minhash signature of a set-valued (array<string>) column —
    * the native codegen'd kernel ([[graft.functions.MinHashSig]]): one
    * xxhash64 per element, 64 permutations in a tight loop, zero
    * shuffle. Needs [[registerAll]] on the session. */
  def minhashSignature(shingleSet: Column): Column = minhash_sig(shingleSet)

  /**
   * Shared LSH candidate → exact-verify pipeline, with exact-duplicate
   * collapse:
   *
   *  1. documents with IDENTICAL shingle sets collapse to one
   *     representative (a dup-heavy corpus — the norm in web data —
   *     would otherwise cost O(cluster²) signature+verify work; after
   *     collapse it's O(reps²) with a cheap expansion at the end).
   *     The collapse key is a 128-bit fingerprint (two independently
   *     seeded xxhash64 views of the set), so the groupBy shuffles
   *     ~24 bytes/doc instead of the full shingle set (≥5× the text
   *     bytes); 128 bits is collision-negligible at any design scale
   *     (birthday bound ~2⁶⁴ docs).
   *  2. representatives go through band-join LSH on a byte-packed
   *     signature (64 B binary, not array<long>), an in-row native
   *     match-count prefilter (est ≥ τ − 0.15; σ ≈ 0.06 at 64 hashes;
   *     [[graft.functions.SigBytesMatch]] — one tight loop per pair),
   *     and the exact Jaccard verify. Shingle sets move ONLY for ids
   *     that survive the prefilter (left_semi prune), never corpus-wide.
   *  3. verified rep pairs expand back to member pairs — intra-group
   *     pairs are emitted directly with jaccard 1.0 (identical sets).
   *
   * On the exact regimes (every corpus whose universe fits the
   * dictionary, or whose posting mass is bounded — in particular every
   * gate corpus) output is IDENTICAL to the naive all-pairs
   * formulation: identical sets always share all bands, so intra-group
   * pairs were always candidates, and cross-group candidacy depends
   * only on the sets (byte collisions in the packed signature only ADD
   * candidates, which the exact verify removes). On the BANDED regime
   * (saturated-sparse only — [[graft.operators.DedupRegime]]) output is
   * a recall-bounded SUBSET of the exact answer with exact precision.
   */
  /** Stage 1 of the LSH pipeline: collapse documents with identical
    * sets to one representative group — `(fp1, fp2, rep, sigb,
    * nonempty)`. The collapse key is a 128-bit fingerprint and the byte
    * signature rides along (identical sets ⇒ identical signature, so
    * first() is deterministic) — both are map-side computed, so the
    * only shuffled payload is (fp, id, 64-byte sig), and map-side
    * partial aggregation collapses a hot cluster's duplicates before
    * they move. Membership is deliberately NOT aggregated here: a
    * `collect_list(doc_id)` members array turns a 10⁸-copy boilerplate
    * cluster into one multi-GB aggregation-buffer row (executor OOM at
    * web scale); membership lives in [[memberFrame]] as ordinary ROWS
    * and every expansion joins against it. Spec-visible: the
    * hot-cluster guard is asserted in DedupSpec. */
  private[graft] def collapseGroups(docs: DataFrame, setCol: String): DataFrame =
    docs.select(col("doc_id") +: fp128(col(setCol), "graft:fp2") :+
        minhash_sigb(col(setCol)).as("sigb") :+
        (size(col(setCol)) > 0).as("nonempty"): _*)
      .groupBy(col("fp1"), col("fp2"))
      .agg(min(col("doc_id")).as("rep"),
        first(col("sigb")).as("sigb"), first(col("nonempty")).as("nonempty"))

  /** Group membership as a FRAME — `(fp1, fp2, doc_id, nonempty)`, one
    * row per document, pure map-side. Recomputes only the cheap 128-bit
    * fingerprint (two xxhash64 passes), never the 64-permutation
    * minhash — the scale trade: one extra map over the corpus instead
    * of caching shingle sets or buffering an unbounded members array. */
  private[graft] def memberFrame(docs: DataFrame, setCol: String): DataFrame =
    docs.select(col("doc_id") +: fp128(col(setCol), "graft:fp2") :+
      (size(col(setCol)) > 0).as("nonempty"): _*)

  /** `(rep, doc_id, nonempty)` from a membership frame: the group
    * representative (min doc_id over the fingerprint) via ONE window —
    * ~25 B rows shuffle; a hot cluster streams through the sort instead
    * of materializing as a single aggregation-buffer row. The window's
    * min agrees with [[collapseGroups]]'s `rep` by construction. */
  private[graft] def memberByRep(members: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp1"), col("fp2"))
    members.withColumn("rep", min(col("doc_id")).over(w))
      .select(col("rep"), col("doc_id"), col("nonempty"))
  }

  /** One row per document of a shingled frame, carrying everything an
    * index generation is written from: `(doc_id, fp1, fp2, sigb,
    * nonempty, n, cand, rep, is_rep)`. `n` is the count of distinct
    * hashed elements, `cand` the caller's candidate column (prefix
    * elements or all hashed elements), `rep` the group representative
    * (min doc_id over the fingerprint, as in [[memberByRep]]) and
    * `is_rep` marks one row per fingerprint, the rep's own. One window
    * gives both, so the shingles are computed once and only this row,
    * never the set or the text, moves through the one exchange, into
    * `parts` partitions. */
  private[graft] def repFrame(docs: DataFrame, setCol: String, cand: Column,
      parts: Int): DataFrame = {
    import graft.operators.PpJoin
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp1"), col("fp2")).orderBy(col("doc_id").asc_nulls_last)
    docs.select(col("doc_id") +: fp128(col(setCol), "graft:fp2") :+
        minhash_sigb(col(setCol)).as("sigb") :+ (size(col(setCol)) > 0).as("nonempty") :+
        size(PpJoin.hashedEls(col(setCol))).as("n") :+ cand.as("cand"): _*)
      .repartition(parts, col("fp1"), col("fp2"))
      .withColumn("rep", min(col("doc_id")).over(w))
      .withColumn("is_rep", row_number().over(w) === 1)
  }

  /** The shared band geometry (16 bands × 4 rows) and prefilter
    * calibration (est ≥ τ − 0.15; σ ≈ 0.06 at 64 hashes) — ONE site, so
    * the self-join and probe pipelines can never drift apart. */
  private def bandedReps(groups: DataFrame): DataFrame = groups
    .select(col("rep").as("doc_id"), col("sigb"),
      posexplode(sig_bands(col("sigb"), 16, 4)).as(Seq("band", "band_hash")))
  private def sigMinMatch(tau: Double): Int =
    math.ceil((tau - 0.15) * SketchUtil.NumHashes).toInt

  /** Stage 2: LSH band self-join over representatives + the native
    * signature match-count prefilter → candidate rep id pairs. */
  private[graft] def candidatePairs(groups: DataFrame, tau: Double): DataFrame = {
    val banded = bandedReps(groups)
    val minMatch = sigMinMatch(tau)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .filter(sig_bytes_match(col("x.sigb"), col("y.sigb")) >= minMatch)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
  }

  /**
   * Prefix postings for the REPRESENTATIVE documents of `docs`, keyed
   * by rep doc_id — the corpus side of every exact PPJoin path (see
   * [[graft.operators.PpJoin]] for the completeness argument and the
   * map-side construction). Rep-ness arrives WITHOUT moving sets, in
   * one of two regimes (the linesDedup `dictCap` pattern, decided by
   * one bounded driver action):
   *
   *  - non-rep ids fit in `maxDriverNonReps` (the normal corpus — the
   *    duplicate fraction, not the corpus, bounds the set): they load
   *    into an O(1)-probe [[graft.functions.LongPairSet]] riding the
   *    task closure, and posting generation is a pure map over the doc
   *    frame — the ONLY exchange left in candidate generation is the
   *    posting join itself. A `left_semi` against rep ids here would
   *    re-shuffle the corpus WITH its shingle sets (reps ≈ corpus, so
   *    no broadcast) — the exact "text never shuffles" violation the
   *    meters exist to catch.
   *  - pathologically duplicated corpus (non-reps overflow the cap):
   *    postings key by the 128-bit set fingerprint and collapse by
   *    partial-aggregated `groupBy(el, fp)` (a 10⁸-copy cluster shrinks
   *    map-side), then map fp → rep through `groups` — two extra
   *    fingerprint-sized exchanges, the honest cost of that corpus.
   */
  /** Non-representative doc_ids as an O(1)-probe closure set, or None
    * when they overflow `cap` (the pathologically-duplicated corpus —
    * callers then fall back to fingerprint-keyed frames collapsed by
    * partial aggregation). The duplicate FRACTION, not the corpus,
    * bounds the driver collect — the same bounded-dictionary move as
    * linesDedup's `dictCap`. */
  /** Memoized per (session, corpus plan, setCol, cap) — the same
    * discipline as the regime-decision memo (r13): the non-rep scan is
    * a full corpus pass (fp window + collect) that is stable per
    * corpus, so repeated queries over the same frame must not re-pay
    * it. */
  private val nonRepMemo =
    new graft.operators.SessionMemo[Option[LongPairSet]](max = 64)

  private def nonRepSet(docs: DataFrame, setCol: String,
      cap: Int): Option[LongPairSet] = {
    val key = Seq(graft.operators.SessionMemo.sessionKey(docs.sparkSession),
      setCol, cap, docs.queryExecution.analyzed.semanticHash()).mkString("|")
    nonRepMemo.getOrElseUpdate(key, {
      val rows = memberByRep(memberFrame(docs, setCol))
        .filter(col("doc_id") =!= col("rep")).select(col("doc_id"))
        .limit(cap + 1).collect()
      if (rows.length > cap) None
      else {
        val ex = LongPairSet(math.max(rows.length, 1))
        rows.foreach { r => val d = r.getLong(0); ex.add(d, d) }
        Some(ex)
      }
    })
  }

  private[graft] def repPostings(docs: DataFrame, groups: DataFrame,
      setCol: String, tm: Long, hot: LongPairSet,
      maxDriverNonReps: Int = 1 << 22): DataFrame = {
    import graft.operators.PpJoin
    nonRepSet(docs, setCol, maxDriverNonReps) match {
      case Some(ex) =>
        PpJoin.postingsById(docs, "doc_id", setCol, tm, hot, Some(ex))
      case None =>
        val withFp = docs.select(
          fp128(col(setCol), "graft:fp2") :+ col(setCol).as("__set"): _*)
        PpJoin.postingsByFp(withFp, ("fp1", "fp2"), "__set", tm, hot)
          .join(groups.select(col("fp1"), col("fp2"), col("rep")), Seq("fp1", "fp2"))
          .select(col("el"), col("rep").as("pid"), col("rk"), col("n"))
    }
  }

  /** Dense-regime rep bitmaps `(pid, n, bm)` under the same two
    * duplication regimes as [[repPostings]]: closure-set exclusion
    * when non-reps are bounded; fingerprint-keyed partial-aggregated
    * collapse (then fp → rep through `groups`) when they are not. */
  private[graft] def repBitmaps(docs: DataFrame, groups: DataFrame,
      setCol: String, dict: graft.functions.LongIntMap, widthBits: Int,
      maxDriverNonReps: Int = 1 << 22): DataFrame = {
    import graft.operators.DenseJaccard
    nonRepSet(docs, setCol, maxDriverNonReps) match {
      case Some(ex) =>
        DenseJaccard.bitmaps(docs, "doc_id", setCol, dict, widthBits, Some(ex))
      case None =>
        import graft.operators.PpJoin
        val els = PpJoin.hashedEls(col(setCol))
        docs.select(fp128(col(setCol), "graft:fp2") :+ els.as("__els"): _*)
          .filter(size(col("__els")) > 0)
          .select(col("fp1"), col("fp2"), size(col("__els")).as("n"),
            DenseJaccard.bitmapCol(col("__els"), dict, widthBits).as("bm"))
          .groupBy(col("fp1"), col("fp2"))
          .agg(first(col("n")).as("n"), first(col("bm")).as("bm"))
          .join(groups.select(col("fp1"), col("fp2"), col("rep")), Seq("fp1", "fp2"))
          .select(col("rep").as("pid"), col("n"), col("bm"))
    }
  }

  /** Candidate rep pairs `(id_a < id_b)` for J ≥ τ — routed across the
    * THREE regimes on the MEASURED universe + posting mass
    * ([[graft.operators.DedupRegime]], memoized per session/plan/τ):
    *  - dense universe (≤ 32 Ki distinct elements): frozen-dictionary
    *    bitmaps + broadcast prefix scan
    *    ([[graft.operators.DenseJaccard]] — posting prefixes pigeonhole
    *    onto a tiny universe, so the posting join is structurally weak
    *    here). EXACT.
    *  - sparse universe, bounded posting mass (real large-vocabulary
    *    text): the PPJoin prefix filter over map-side postings
    *    ([[graft.operators.PpJoin]]). EXACT. Both exact regimes are
    *    COMPLETE by construction (PpJoinSpec pins each against a
    *    brute-force oracle, including the J ∈ [0.45, 0.6] class that
    *    16×4 bands miss with ~coin-flip probability).
    *  - sparse universe, SATURATED posting mass (the char-shingle crawl
    *    shape past the dense cap — SCALE_r12_regimes measured both
    *    exact engines DNF-ing there): banded MinHash over the collapsed
    *    groups ([[candidatePairs]] — collision ≥ 1−(1−j⁴)¹⁶,
    *    recall-traded, floor spec-pinned; the exact verify downstream
    *    keeps precision exact). Never routes on a corpus whose universe
    *    fits the dictionary, so the hash-gated keys keep their exact
    *    engines on every gate corpus. */
  private[graft] def prefixCandidatePairs(docs: DataFrame, groups: DataFrame,
      setCol: String, tau: Double, forceSparse: Boolean = false): DataFrame = {
    import graft.operators.{DedupRegime, DenseJaccard, PpJoin}
    val tm = PpJoin.tauMicros(tau)
    if (forceSparse) {
      val hot = PpJoin.hotSet(docs, setCol)
      return PpJoin.selfPairs(repPostings(docs, groups, setCol, tm, hot), tm)
    }
    val pick = DedupRegime.pick(docs.sparkSession, docs, setCol, tau,
      "jaccard_pairs")
    pick.dict match {
      case Some((els, d)) =>
        DenseJaccard.selfPairs(
          repBitmaps(docs, groups, setCol, d, els.length), tm)
      case None if pick.regime == "banded" =>
        candidatePairs(groups, tau)
      case None =>
        val hot = pick.hot.getOrElse(PpJoin.hotSet(docs, setCol))
        PpJoin.selfPairs(repPostings(docs, groups, setCol, tm, hot), tm)
    }
  }

  /** Stages 2–3: routed candidates + exact verify → verified
    * REPRESENTATIVE pairs `(id_a, id_b, jaccard)`. On the exact regimes
    * the LSH band join ([[candidatePairs]]) is deliberately NOT unioned
    * in: a complete candidate set makes a probabilistic pruner pure
    * overhead (r6 shipped the union and paid 16 band rows × 84 B per
    * rep for zero recall), and the signature-estimate prefilter is a
    * ±2.5σ gate that can DROP true τ-pairs — unacceptable against an
    * exact oracle. On the BANDED regime (saturated-sparse corpora where
    * no exact engine finishes — SCALE_r12_regimes) the band join IS the
    * candidate source, recall-traded by design; the verify below is
    * unchanged, so precision stays exact on every regime. Sets move
    * only for surviving candidate ids — the left_semi against the
    * (tiny) candidate id list broadcasts, so the corpus-wide frame is
    * filtered map-side before any set shuffles. */
  /** One live candidate-pair cache across invocations (the CacheSlot
    * discipline — the frame is counted for the regime pick, then read
    * by the verify joins). */
  /** Corpus mean + row count for [[cosinePairs]]'s centered bands,
    * memoized per (session, corpus plan, dim). */
  private val cosineMeanMemo =
    new graft.operators.SessionMemo[(Array[Double], Long)](max = 64)

  private val candCache = new graft.operators.CacheSlot
  private val candSetsCache = new graft.operators.CacheSlot
  private val containCandCache = new graft.operators.CacheSlot
  private val containSetsCache = new graft.operators.CacheSlot
  /** Candidate-pair frames up to this row count broadcast into the
    * verify joins (the repo-wide 256 Ki broadcast cap); bigger frames
    * take the id-prune path. */
  private val MaxBroadcastCandPairs = 1L << 18

  private[graft] def lshRepPairs(docs: DataFrame, groups: DataFrame,
      setCol: String, tau: Double, forceSparse: Boolean = false): DataFrame = {
    // verify by joining the candidate PAIR frame (pairs ≈ output size —
    // the exact filters make candidates near-final) straight onto the
    // doc scan twice, with an EXPLICIT regime pick (r8 — relying on AQE
    // to broadcast left the failure mode implicit: past the threshold
    // both joins would shuffle the full doc frame INCLUDING set
    // columns, the text-never-shuffles violation the meters only catch
    // on the gate corpus). ≤256 Ki pairs: hinted broadcast, both joins
    // map-side over the corpus scan, sets never enter an exchange.
    // Bigger (dense or duplicate-heavy corpora): left_semi id-prune
    // each side first, so only candidate-id sets — output-bound by
    // construction — enter the join exchanges.
    val cand = candCache.cache(prefixCandidatePairs(docs, groups, setCol, tau, forceSparse))
    val nCand = cand.count()
    // BOTH verify sides come from ONE candidate-pruned sets frame (r13:
    // the a/b scans each re-shingled the whole corpus — the shingle
    // kernel, not the join, was the cost): the corpus is filtered to
    // candidate ids once (map-side semi against the tiny exploded id
    // frame), the surviving (id, set) rows — output-bound by
    // construction — are CacheSlot-persisted, and the two joins read
    // the cache. Sets still never enter a corpus-wide exchange.
    val candIds = cand.select(explode(array(col("id_a"), col("id_b")))
      .as("doc_id")).distinct()
    val sets = candSetsCache.cache(
      docs.select(col("doc_id"), col(setCol).as("__set"))
        .join(if (nCand <= MaxBroadcastCandPairs) broadcast(candIds) else candIds,
          Seq("doc_id"), "left_semi"))
    val a = sets.select(col("doc_id").as("id_a"), col("__set").as("set_a"))
    val b = sets.select(col("doc_id").as("id_b"), col("__set").as("set_b"))
    val paired =
      if (nCand <= MaxBroadcastCandPairs)
        broadcast(cand).join(a, "id_a").join(b, "id_b")
      else
        cand.join(a, "id_a").join(b, "id_b")
    paired
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("set_a"), col("set_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** Stage 4: expand verified rep pairs to member pairs via the
    * membership frame — joins against member ROWS, never a
    * double-`explode` of an array column (whose source aggregation
    * buffer grows with the hottest cluster).
    *
    * Intra-group pairs (identical sets ⇒ score = `identScore`) come
    * from a self-join of `byRep` on the representative. EMPTY groups
    * are excluded: their pairwise score is 0/0 = null in the verify
    * path, so emitting them at the identity score would fabricate
    * pairs the uncollapsed formulation rejects (e.g. two docs shorter
    * than the shingle width, or two zero vectors). Cross-group pairs
    * join each side's members by rep; repPairs only ever contains
    * verified (hence non-empty) groups. */
  private[graft] def expandPairs(byRep: DataFrame, repPairs: DataFrame,
      scoreName: String, identScore: Column): DataFrame = {
    val live = byRep.filter(col("nonempty"))
    val intra = live.as("a").join(live.as("b"),
        col("a.rep") === col("b.rep") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        identScore.as(scoreName))
    val cross = repPairs
      .join(byRep.select(col("rep").as("id_a"), col("doc_id").as("m_a")), "id_a")
      .join(byRep.select(col("rep").as("id_b"), col("doc_id").as("m_b")), "id_b")
      .select(least(col("m_a"), col("m_b")).as("id_a"),
        greatest(col("m_a"), col("m_b")).as("id_b"), col(scoreName))
    intra.unionByName(cross).orderBy(col("id_a"), col("id_b"))
  }

  private[graft] def lshVerifiedPairs(docs: DataFrame, setCol: String, tau: Double,
      forceSparse: Boolean = false): DataFrame = {
    val repPairs = lshRepPairs(docs, collapseGroups(docs, setCol), setCol, tau, forceSparse)
    expandPairs(memberByRep(memberFrame(docs, setCol)), repPairs, "jaccard", lit(1.0))
  }

  /**
   * Dedup cluster assignment — what a training-data pipeline actually
   * executes: every document labeled with the smallest doc_id in its
   * near-duplicate cluster (`keep_id`); rows with `doc_id != keep_id`
   * are the drop set. Clusters are connected components over a
   * LINEAR-size edge set ([[dedupKeepEdges]]: per-group star edges plus
   * verified rep-rep pairs — not the O(cluster²) intra-group expansion
   * the pair-output contract of [[dedupMinhash]] requires), resolved
   * ADAPTIVELY — the broadcast-join
   * decision applied to graph algorithms: an edge list within
   * `maxDriverEdges` (default 2M ≈ 50 MB driver-side) is collected and solved by
   * driver union-find in one pass; a bigger dup graph runs iterated
   * min-label propagation, where each round doubles the covered path
   * length (hop + pointer-jump) and the loop exits as soon as a round
   * changes no label — `rounds` is a safety CAP (6 covers paths ≤ 64),
   * not a fixed cost. Both paths produce the identical labeling
   * (spec-asserted): union-by-min-root makes each component's root its
   * smallest doc_id, the same fixpoint the propagation reaches.
   */
  def dedupKeep(s: SparkSession, dir: String, tau: Double = 0.5,
      rounds: Int = 6, maxDriverEdges: Int = 2 << 22): DataFrame = {
    registerAll(s)
    // clear a stale cap-hit flag from a previous run on this context
    s.sparkContext.setLocalProperty("graft.dedupKeep.unconverged", null)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), charShingles(col("text"), 5).as("sh"))
    val pairs = dedupKeepEdges(docs, "sh", tau).persist()

    // adaptive resolution — the broadcast-join decision applied to
    // connected components: the verified dup-graph EDGE list is tiny
    // relative to the corpus (dup pairs, not docs), so when it fits on
    // the driver a union-find resolves components in one pass instead
    // of paying 2×rounds shuffle barriers. The distributed hop+jump
    // loop below remains the path for dup-graphs past the threshold
    // (8.4M edges ≈ 135 MB of primitive arrays plus a transient boxed
    // collect; lower the cap on a memory-tight driver). The r12 cap of
    // 2M sat exactly under the measured sf3 rung's 2.31M edges, so the
    // regimes ladder paid the propagation loop for a graph the driver
    // resolves in seconds — the 7.8×-at-3× cliff in
    // SCALE_r12_regimes.json was this threshold, not the pair engine.
    val nEdges = pairs.count()
    if (nEdges <= maxDriverEdges) {
      val labelsDf = driverComponents(s, pairs)
      pairs.unpersist(false)
      return docs.select(col("doc_id"))
        .join(broadcast(labelsDf), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("keep_id"), col("doc_id")).as("keep_id"))
        .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("boolean"))
        .orderBy(col("doc_id"))
    }

    // iterative algorithm: persist the (small) edge list so each round
    // reads it instead of re-deriving the whole LSH pipeline, and
    // truncate label lineage per round so the plan doesn't grow
    // exponentially with rounds
    val edges = pairs
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .persist()
    // reliable checkpoint when the cluster has a checkpoint dir;
    // localCheckpoint is executor-local and loses partitions on
    // executor death mid-job, acceptable only for local runs
    val snap: DataFrame => DataFrame =
      if (s.sparkContext.getCheckpointDir.isDefined) _.checkpoint(true)
      else _.localCheckpoint(true)
    // propagate labels over the dup-graph VERTICES only (ids with at
    // least one verified edge) — at corpus scale the dup graph is a
    // small fraction of the documents, and singletons keep their own
    // id by definition, so they join back in at the end for free
    var labels = snap(edges.select(col("id_a").as("doc_id")).distinct()
      .withColumn("keep_id", col("doc_id")))
    // the snap above materialized the edges cache, so the un-symmetrized
    // pair cache (same data, half the rows) is no longer needed
    pairs.unpersist(false)
    var converged = false
    var round = 0
    while (round < rounds && !converged) {
      // hop: min label among direct neighbors
      val viaNeighbor = edges
        .join(labels.select(col("doc_id").as("id_b"), col("keep_id")), "id_b")
        .groupBy(col("id_a").as("doc_id"))
        .agg(min(col("keep_id")).as("n_keep"))
      // persisted: the jump join consumes `hopped` twice — unpersisted,
      // each side recomputed the edges⋈labels + groupBy subtree, doubling
      // the loop's edge-shuffle count per round (r13 profile)
      val hopped = labels.join(viaNeighbor, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("keep_id"), coalesce(col("n_keep"), col("keep_id"))).as("keep_id"))
        .persist()
      // jump: follow the keeper pointer (label of my label) — together
      // with the hop this doubles covered path length every round
      val next = snap(hopped.as("l")
        .join(hopped.select(col("doc_id").as("keep_id"), col("keep_id").as("kk")).as("p"),
          Seq("keep_id"), "left")
        .select(col("doc_id"),
          least(col("keep_id"), coalesce(col("kk"), col("keep_id"))).as("keep_id")))
      hopped.unpersist(false) // next is eagerly checkpointed
      // min-label propagation is a monotone fixed point: a no-change
      // round means every later round is also a no-op. Both sides are
      // eagerly checkpointed, so this probe joins two small vertex
      // frames — no lineage recompute.
      converged = next.select(col("doc_id"), col("keep_id").as("new_keep"))
        .join(labels.select(col("doc_id"), col("keep_id").as("old_keep")), "doc_id")
        .filter(col("new_keep") =!= col("old_keep"))
        .isEmpty
      labels = next
      round += 1
    }
    // labels are eagerly checkpointed, so the edge cache can go now
    edges.unpersist(false)
    // surface a cap-hit instead of silently returning split clusters:
    // a dup-graph whose diameter exceeds 2^rounds hops is pathological
    // but possible (long sliding near-dup chains in crawls)
    if (!converged) {
      s.sparkContext.setLocalProperty("graft.dedupKeep.unconverged", "true")
      System.err.println(
        s"[graft] dedupKeep: label propagation hit the rounds cap ($rounds) " +
          s"before converging — clusters with dup-chain diameter > ${1L << rounds} " +
          "hops may be split. Raise `rounds`.")
    }
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keep_id"), col("doc_id")).as("keep_id"))
      .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("boolean"))
      .orderBy(col("doc_id"))
  }

  /** The edge set [[dedupKeep]] labels over: `(rep → member)` star
    * edges within each identical-set group plus the verified rep-rep
    * pairs. Its connected components equal those of the full verified
    * pair set — a star spans the same component as the clique — but a
    * cluster of n exact copies contributes n−1 edges instead of
    * n(n−1)/2, so one hot boilerplate cluster can no longer turn the
    * edge list quadratic (and blow the driver union-find budget) at
    * web scale. Empty-set groups emit no star (their members are not
    * duplicates of each other — same rule as the pair expansion). */
  private[graft] def dedupKeepEdges(docs: DataFrame, setCol: String,
      tau: Double): DataFrame = {
    val groups = collapseGroups(docs, setCol)
    val byRep = memberByRep(memberFrame(docs, setCol))
    val star = byRep.filter(col("nonempty") && col("doc_id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("doc_id").as("id_b"))
    star.unionByName(
      lshRepPairs(docs, groups, setCol, tau).select(col("id_a"), col("id_b")))
  }

  /** Driver-side connected components over a collected edge list:
    * union-find with path compression, union-by-min-root — so each
    * component's final root IS its smallest doc_id, matching the
    * distributed min-label fixpoint exactly. Returns (doc_id, keep_id)
    * for every VERTEX of the dup graph (singletons are absent; the
    * caller's left join + coalesce labels them with their own id).
    *
    * Ids are remapped to dense ints over a sorted vertex array so the
    * whole structure is primitive arrays (~24 B/edge + ~12 B/vertex);
    * the only boxing is the transient collect() row decode. */
  private def driverComponents(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    val edgeArr = pairs.as[(Long, Long)].collect()
    val n = edgeArr.length
    val ea = new Array[Long](n)
    val eb = new Array[Long](n)
    var i = 0
    while (i < n) { ea(i) = edgeArr(i)._1; eb(i) = edgeArr(i)._2; i += 1 }
    // dense vertex ids: sorted distinct endpoints; index = compact id.
    // Sorted order also means a smaller dense id ⇔ a smaller doc_id,
    // so union-by-min on dense ids is union-by-min on doc ids.
    val verts = (ea ++ eb).distinct.sorted
    def dense(x: Long): Int = java.util.Arrays.binarySearch(verts, x)
    val parent = Array.tabulate(verts.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    i = 0
    while (i < n) {
      val ra = find(dense(ea(i))); val rb = find(dense(eb(i)))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      i += 1
    }
    verts.indices.map(v => (verts(v), verts(find(v)))).toDF("doc_id", "keep_id")
  }

  /**
   * MinHash+LSH near-duplicate pairs over `documents`
   * (16 bands × 4 rows ⇒ collision probability ≈ 1-(1-j⁴)¹⁶,
   * steep around j≈0.6), verified with exact shingle Jaccard ≥ 0.5.
   */
  def dedupMinhash(s: SparkSession, dir: String, tau: Double = 0.5): DataFrame = {
    registerAll(s)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), charShingles(col("text"), 5).as("sh"))
    lshVerifiedPairs(docs, "sh", tau)
  }

  /**
   * DIRECTED set-containment join — `containment(A in B) =
   * |A∩B|/|A| ≥ τ` over shingle sets, the asymmetric sibling of
   * [[dedupMinhash]]: near-dup Jaccard misses the "this document is a
   * template instance / quote / excerpt of that one" relation when the
   * container is much larger (J collapses as |B| grows while
   * containment stays 1). Candidates reuse the adaptive exact engine:
   * dense universes scan bitmaps with the asymmetric integer test
   * ([[graft.operators.DenseJaccard.containPairs]] — one pass covers
   * both directions); sparse universes join τ-prefix postings of the
   * CONTAINED side against full postings of the container side
   * ([[graft.operators.PpJoin.containPairs]] — a superset side admits
   * no prefix pruning, the honest cost of sparse containment). Exact
   * raw-set verify decides; identical-set groups expand to ordered
   * member pairs at containment 1.0.
   */
  def dedupContainment(s: SparkSession, dir: String, tau: Double = 0.8): DataFrame = {
    import graft.operators.{DedupRegime, DenseJaccard, PpJoin}
    registerAll(s)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), charShingles(col("text"), 5).as("sh"))
    val groups = collapseGroups(docs, "sh")
    val tm = PpJoin.tauMicros(tau)
    val pick = DedupRegime.pick(s, docs, "sh", tau, "containment")
    val cand = pick.dict match {
      case Some((els, dict)) =>
        DenseJaccard.containPairs(repBitmaps(docs, groups, "sh", dict, els.length), tm)
      case None =>
        val hot = pick.hot.getOrElse(PpJoin.hotSet(docs, "sh"))
        val contained = repPostings(docs, groups, "sh", tm, hot)
        val container = repPostings(docs, groups, "sh", 0L, hot)
        if (pick.regime == "banded") {
          // saturated-sparse (r13): recall-traded candidates from TWO
          // complementary pruners, exact verify below —
          //  - rare-element df-capped postings: a fragment⊆template
          //    pair is found through ANY shared element of df ≤ cap
          //    (the asymmetric tail banding cannot see: J collapses as
          //    |B| grows);
          //  - MinHash bands over the collapsed groups (both orders,
          //    loosened signature prefilter: C ≥ τ with |B| ≤ 1.5|A|
          //    means J ≥ τ/(1+1.5−τ) ≈ 0.47): near-size pairs whose
          //    overlap is carried entirely by high-df elements.
          val dfCap = s.conf.get(DedupRegime.DfCapConf,
            DedupRegime.DefaultDfCap.toString).toLong
          val capped = PpJoin.containPairsCapped(contained, container, tm, dfCap)
          val banded = candidatePairs(groups, 0.45)
          capped
            .unionByName(banded)
            .unionByName(banded.select(col("id_b").as("id_a"),
              col("id_a").as("id_b")))
            .distinct()
        } else PpJoin.containPairs(contained, container, tm)
    }
    // same one-pass verify-side fetch as [[lshRepPairs]] (r13): the
    // candidate frame is cached + counted once, the corpus is pruned to
    // candidate ids in ONE shingle pass, and both join sides read the
    // cached (id, set) survivors
    val candC = containCandCache.cache(cand)
    val nCand = candC.count()
    val candIds = candC.select(explode(array(col("id_a"), col("id_b")))
      .as("doc_id")).distinct()
    val sets = containSetsCache.cache(
      docs.select(col("doc_id"), col("sh").as("__set"))
        .join(if (nCand <= MaxBroadcastCandPairs) broadcast(candIds) else candIds,
          Seq("doc_id"), "left_semi"))
    val pairedCand =
      if (nCand <= MaxBroadcastCandPairs) broadcast(candC) else candC
    val repPairs = pairedCand
      .join(sets.select(col("doc_id").as("id_a"), col("__set").as("set_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("__set").as("set_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(col("set_a")).cast("double"), 4).as("containment"))
      .filter(col("containment") >= tau)
    val byRep = memberByRep(memberFrame(docs, "sh"))
    val live = byRep.filter(col("nonempty"))
    // ordered pairs within an identical-set group: containment exactly 1
    val intra = live.as("a").join(live.as("b"),
        col("a.rep") === col("b.rep") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        lit(1.0).as("containment"))
    val cross = repPairs
      .join(byRep.select(col("rep").as("id_a"), col("doc_id").as("m_a")), "id_a")
      .join(byRep.select(col("rep").as("id_b"), col("doc_id").as("m_b")), "id_b")
      .select(col("m_a").as("id_a"), col("m_b").as("id_b"), col("containment"))
    intra.unionByName(cross).orderBy(col("id_a"), col("id_b"))
  }

  /** Exact all-ordered-pairs oracle (empty sets excluded — 0/0).
    * Lazy: charShingleCte is declared later in the file. */
  lazy val dedupContainmentSql: String =
    s"""WITH $charShingleCte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 4)
       |    AS containment
       |FROM sets a JOIN sets b ON a.doc_id != b.doc_id
       |WHERE len(a.s) > 0 AND len(b.s) > 0
       |  AND ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 4)
       |      >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------------
  // Sub-document (chunk-level) exact dedup
  // -------------------------------------------------------------------------

  /**
   * Chunk-level exact dedup — the CCNet/RefinedWeb-style sub-document
   * pass: split every document into non-overlapping `w`-token chunks,
   * find chunks repeated ANYWHERE in the corpus (first occurrence in
   * `(doc_id, chunk_idx)` order wins), and score each document by its
   * duplicated-chunk fraction; `keep` drops documents that are mostly
   * recycled boilerplate even when no whole-document pair is a near-dup.
   *
   * Scale design: chunk strings never leave the row that produced them —
   * the exploded frame carries only `(doc_id, chunk_idx, fp128)` where
   * fp128 is two independently-seeded xxhash64 views of the chunk
   * (~36 bytes/chunk; collision-negligible at any corpus size, birthday
   * bound ~2⁶⁴ chunks). Both shuffles (first-occurrence window, per-doc
   * rollup) move only that projection; the text is read ONCE — the
   * window formulation has a single consumer of the chunking subtree,
   * where a groupBy-min + re-join would execute it twice.
   */
  /**
   * Cross-document boilerplate LINE removal (the RefinedWeb /
   * MassiveText line-dedup pass): any stripped line occurring ≥
   * `minOccur` times across the corpus — navigation stubs, cookie
   * banners, "all rights reserved" footers — is deleted from every
   * document, and the cleaned document is rebuilt. Distinct from
   * [[dedupChunk]] (flags docs; fixed token windows) and C4 (static
   * rules): the boilerplate list here is learned from the corpus
   * itself.
   *
   * Scale design — line counting projects each occurrence to its fp128
   * before the partial-aggregated groupBy (the only corpus shuffle,
   * ~20 B/row). The rebuild then takes one of two implemented paths on
   * the measured dictionary size:
   *
   *  - `|dict| ≤ dictCap` (the normal regime — boilerplate is
   *    low-cardinality): the hot fps load into an exact O(1)-probe
   *    hash set ([[graft.functions.LongPairSet]], 16 B/entry) that
   *    rides the task closure, and the rebuild is an in-row `filter`
   *    of each document's own line array through
   *    [[graft.functions.PairSetContains]] — the document never
   *    leaves its partition and TEXT NEVER SHUFFLES. This replaces
   *    the earlier one-row `collect_list` broadcast (a single
   *    aggregation-buffer row that grows with the dictionary — the
   *    multi-GB-row failure mode) probed by an O(|dict|)-per-line
   *    `array_contains` scan.
   *  - `|dict| > dictCap` (pathological corpus — "any line seen ≥
   *    minOccur times" stopped being a boilerplate predicate): the
   *    dictionary cannot ride a closure, so the rebuild degrades to
   *    posexplode → left fp-join against the hot frame → regroup by
   *    doc_id. Line text shuffles exactly twice (the join and the
   *    regroup, ~document bytes each) — the honest cost of an
   *    unbounded dictionary — while the per-line probe stays O(1)
   *    (hash join, not a scan). Both paths produce identical output
   *    (spec-pinned).
   */
  /** [[linesDedup]]'s hot-line dictionary rows, memoized per (session,
    * corpus plan, minOccur, dictCap). */
  private val linesHotMemo =
    new graft.operators.SessionMemo[Array[org.apache.spark.sql.Row]](max = 32)

  def linesDedup(docs: DataFrame, minOccur: Int = 3,
      dictCap: Int = 1 << 22): DataFrame = {
    val salt = "graft:line-fp"
    // native char-set trim (r13): the regex pair compiled and ran TWO
    // java.util.regex passes per line; StringTrim is one codegen'd
    // scan with the identical semantics (strip leading/trailing
    // space/tab/CR runs) — and the same call the DuckDB oracle makes
    // (trim(x, ' '||chr(9)||chr(13)))
    def strip(l: Column): Column = trim(l, " \t\r")
    val lns = filter(transform(split(col("text"), "\n"), strip _),
      l => length(l) > 0)
    val base = docs.select(col("doc_id"), lns.as("lns"))
    val hot = base.select(explode(col("lns")).as("line"))
      .select(fp128(col("line"), salt): _*)
      .groupBy(col("fp1"), col("fp2")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minOccur)
      .select(col("fp1"), col("fp2"))
    // One bounded driver action sizes the dictionary and picks the
    // path: limit(cap+1) caps what can ever land on the driver.
    // Memoized per (session, corpus plan, minOccur, cap) — the r13 memo
    // discipline: the hot-line dictionary is a full corpus pass
    // (tokenize + line split + fp groupBy), stable per corpus.
    val hotKey = Seq(
      graft.operators.SessionMemo.sessionKey(docs.sparkSession), minOccur,
      dictCap, docs.queryExecution.analyzed.semanticHash()).mkString("|")
    val hotRows = linesHotMemo.getOrElseUpdate(hotKey,
      hot.limit(dictCap + 1).collect())
    val out =
      if (hotRows.length <= dictCap) {
        val set = graft.functions.LongPairSet(math.max(hotRows.length, 1))
        hotRows.foreach(r => set.add(r.getLong(0), r.getLong(1)))
        def isHot(l: Column): Column = org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.PairSetContains(
            org.apache.spark.sql.GraftSqlBridge.expression(xxhash64(l)),
            org.apache.spark.sql.GraftSqlBridge.expression(xxhash64(lit(salt), l)),
            set))
        base.select(col("doc_id"), size(col("lns")).cast("long").as("n_lines"),
            filter(col("lns"), l => !isHot(l)).as("kept"))
          .select(col("doc_id"), col("n_lines"),
            (col("n_lines") - size(col("kept"))).cast("long").as("n_removed"),
            array_join(col("kept"), "\n").as("cleaned_text"))
      } else {
        val ex = base
          .select(col("doc_id"), posexplode_outer(col("lns")).as(Seq("idx", "line")))
          .select(col("doc_id"), col("idx"), col("line"),
            xxhash64(col("line")).as("fp1"), xxhash64(lit(salt), col("line")).as("fp2"))
        val marked = ex.join(hot.withColumn("hot", lit(true)), Seq("fp1", "fp2"), "left")
          // idx null = the posexplode_outer row of an empty document;
          // its null-line fps are hash-of-nothing and must never match
          .withColumn("is_hot", col("idx").isNotNull && col("hot").isNotNull)
        marked.groupBy(col("doc_id")).agg(
            count(col("idx")).cast("long").as("n_lines"),
            sum(when(col("is_hot"), 1L).otherwise(0L)).cast("long").as("n_removed"),
            array_join(transform(array_sort(collect_list(
                when(col("idx").isNotNull && !col("is_hot"),
                  struct(col("idx"), col("line"))))),
              s => s.getField("line")), "\n").as("cleaned_text"))
          .select(col("doc_id"), col("n_lines"), col("n_removed"), col("cleaned_text"))
      }
    out.orderBy(col("doc_id"))
  }

  /** Gate enrichment for [[dedupLines]]: the synthetic corpus is
    * single-line, so the gate rebuilds each doc into 8-token lines and
    * plants two corpus-wide boilerplate lines (every 7th and every 5th
    * doc) IN BOTH ENGINES — organic line collisions (exact-duplicate
    * docs share all their lines) count too, in both. */
  private def linesEnriched(docs: DataFrame): DataFrame = {
    val tk = toks(col("text"))
    val lines = transform(
      sequence(lit(0), (greatest(size(tk) - 1, lit(0)) / 8).cast("int")),
      i => array_join(slice(tk, i * 8 + 1, lit(8)), " "))
    docs.select(col("doc_id"), concat(
      array_join(lines, "\n"),
      when(col("doc_id") % 7 === 2,
        lit("\nsubscribe to our newsletter today.")).otherwise(lit("")),
      when(col("doc_id") % 5 === 1,
        lit("\nall rights reserved worldwide.")).otherwise(lit(""))).as("text"))
  }

  def dedupLines(s: SparkSession, dir: String): DataFrame =
    linesDedup(linesEnriched(t(s, dir, "documents")))

  /** Oracle counts by the LINE STRING itself (exact), while the Spark
    * side counts fp128 views — agreement additionally certifies the
    * fingerprint projection is collision-free on the gate corpus (the
    * dedup_chunk discipline). */
  val dedupLinesSql: String =
    """WITH d0 AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                x -> length(x) > 0) AS tk
      |  FROM documents),
      |enr AS (
      |  SELECT doc_id,
      |    array_to_string(
      |      list_transform(generate_series(0, greatest(len(tk) - 1, 0) // 8),
      |        -- token-less docs slice to []: array_to_string([]) is NULL
      |        -- in DuckDB and would poison the whole document text
      |        i -> coalesce(array_to_string(list_slice(tk, i * 8 + 1, i * 8 + 8), ' '), '')),
      |      chr(10))
      |    || CASE WHEN doc_id % 7 = 2
      |            THEN chr(10) || 'subscribe to our newsletter today.' ELSE '' END
      |    || CASE WHEN doc_id % 5 = 1
      |            THEN chr(10) || 'all rights reserved worldwide.' ELSE '' END AS text
      |  FROM d0),
      |l AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(regexp_split_to_array(text, '\n'),
      |                x -> trim(x, ' ' || chr(9) || chr(13))),
      |                x -> length(x) > 0) AS lns
      |  FROM enr),
      |hot AS (
      |  SELECT coalesce(list(line), []) AS dict FROM (
      |    SELECT line FROM (SELECT unnest(lns) AS line FROM l)
      |    GROUP BY line HAVING count(*) >= 3)),
      |k AS (
      |  SELECT doc_id, lns,
      |    list_filter(lns, x -> NOT list_contains(h.dict, x)) AS kept
      |  FROM l, hot h)
      |SELECT doc_id,
      |  CAST(len(lns) AS BIGINT) AS n_lines,
      |  CAST(len(lns) - len(kept) AS BIGINT) AS n_removed,
      |  coalesce(array_to_string(kept, chr(10)), '') AS cleaned_text
      |FROM k
      |ORDER BY doc_id""".stripMargin

  def dedupChunk(s: SparkSession, dir: String, w: Int = 20): DataFrame = {
    registerAll(s)
    val docs = t(s, dir, "documents")
    val inst = docs.select(col("doc_id"),
        posexplode(tok_chunks(col("text"), w)).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id") +: col("chunk_idx").cast("long").as("chunk_idx") +:
        fp128(col("chunk"), "graft:chunk-fp2"): _*)
    // first-occurrence mark as ONE window over the fingerprint — a
    // groupBy-min + re-join formulation would execute the scan +
    // chunking subtree twice (two different physical consumers defeat
    // exchange reuse); the window shuffles the same ~36 B/chunk
    // projection once and reads the text once
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp1"), col("fp2"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    val perdoc = inst
      .withColumn("rk", row_number().over(w1))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum((col("rk") > 1).cast("long")).as("dup_chunks"))
    docs.select(col("doc_id"))
      .join(perdoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("dup_chunks"), lit(0L)).as("dup_chunks"))
      .withColumn("dup_frac",
        round(when(col("n_chunks") === 0, lit(0.0))
          .otherwise(col("dup_chunks").cast("double") / col("n_chunks")), 4))
      .withColumn("keep", col("dup_frac") <= 0.5)
      .orderBy(col("doc_id"))
  }

  /** Exact oracle for [[dedupChunk]]: the same chunking (lowercased
    * whitespace tokens, non-overlapping windows of 20, trailing partial
    * chunk kept, token-less docs chunk-less) with first occurrence by
    * `row_number` over `(doc_id, chunk_idx)` — the fingerprint groupBy
    * is exact-equality on the chunk text up to a 128-bit collision. */
  val dedupChunkSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> length(x) > 0) AS t
      |  FROM documents),
      |chunks AS (
      |  SELECT doc_id, i - 1 AS chunk_idx,
      |    array_to_string(t[((i-1)*20+1):(i*20)], ' ') AS chunk
      |  FROM (SELECT doc_id, t,
      |          unnest(range(1, CAST(ceil(len(t)/20.0) AS BIGINT) + 1)) AS i
      |        FROM toks WHERE len(t) > 0)),
      |marked AS (
      |  SELECT doc_id,
      |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rk
      |  FROM chunks),
      |perdoc AS (
      |  SELECT doc_id, count(*) AS n_chunks,
      |    sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS dup_chunks
      |  FROM marked GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(p.n_chunks, 0) AS BIGINT) AS n_chunks,
      |  CAST(coalesce(p.dup_chunks, 0) AS BIGINT) AS dup_chunks,
      |  round(CASE WHEN p.n_chunks IS NULL THEN 0.0
      |        ELSE CAST(p.dup_chunks AS DOUBLE) / p.n_chunks END, 4) AS dup_frac,
      |  round(CASE WHEN p.n_chunks IS NULL THEN 0.0
      |        ELSE CAST(p.dup_chunks AS DOUBLE) / p.n_chunks END, 4) <= 0.5 AS keep
      |FROM documents d LEFT JOIN perdoc p USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Substring-level dedup (sliding windows ≈ distributed suffix array)
  // -------------------------------------------------------------------------

  /**
   * Exact substring-overlap dedup beyond fixed chunks — per document,
   * how many of its tokens sit inside a run of ≥ `L` tokens that occurs
   * verbatim anywhere else in the corpus (RefinedWeb / Lee et al. 2021
   * "Deduplicating Training Data Makes Language Models Better"-style
   * ExactSubstr). [[dedupChunk]]'s non-overlapping windows miss a
   * shared run that straddles a chunk boundary or starts at a different
   * offset in each document; sliding windows don't.
   *
   * Equivalence to the paper's suffix array: a shared run of length
   * ≥ L contains a shared L-window at every start inside it, and every
   * shared L-window IS a shared run of length L — so the union of
   * duplicated L-windows equals the union of maximal duplicated runs
   * ≥ L, and merging overlapping windows (equal length ⇒ compare each
   * start with its predecessor; gaps-and-islands) reproduces the
   * suffix-array coverage exactly. The suffix array itself is a
   * single-node construction; this is its shuffle-friendly form.
   *
   * Scale shape: ONE corpus scan explodes each doc into (n_tok − L + 1)
   * windows projected to `(doc_id, start, fp128)` (~28 B/row — the
   * window TEXT never shuffles, same fingerprint discipline as
   * [[dedupChunk]], exact up to a 128-bit collision); duplication is a
   * count window over the fingerprint (one shuffle), island-merge is a
   * lag/sum window per doc (second shuffle, only the duplicated rows).
   * No self-join, nothing quadratic, no driver state.
   */
  def dedupSubstring(s: SparkSession, dir: String, L: Int = 20): DataFrame = {
    registerAll(s)
    val docs = t(s, dir, "documents")
    val toked = docs.select(col("doc_id"), toks(col("text")).as("tk"))
    val win = toked.filter(size(col("tk")) >= L)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), size(col("tk")) - L)).as("start"))
      .select(col("doc_id") +: col("start").cast("long").as("start") +:
        fp128(concat_ws(" ", slice(col("tk"), col("start") + 1, lit(L))),
          "graft:substr-fp2"): _*)
    val wFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp1"), col("fp2"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("start"))
    // a window is duplicated if its content occurs at any OTHER
    // (doc, start) — count over the fingerprint, no groupBy + re-join
    // (single consumer keeps the scan + windowing subtree executed once)
    val marked = win
      .withColumn("cnt", count(lit(1)).over(wFp))
      .filter(col("cnt") > 1)
      .select(col("doc_id"), col("start"))
    // equal-length intervals [start, start+L): a new island starts
    // exactly when the gap to the previous start exceeds L
    val islands = marked
      .withColumn("brk",
        when(col("start") - lag(col("start"), 1).over(wDoc) > L, 1).otherwise(0))
      .withColumn("isl", sum(col("brk")).over(wDoc.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
    val cov = islands.groupBy(col("doc_id"), col("isl"))
      .agg((max(col("start")) - min(col("start")) + L).as("run_tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("run_tok")).as("dup_tok"))
    toked.select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("dup_tok"), lit(0L)).cast("long").as("dup_tok"))
      .withColumn("dup_frac", round(when(col("n_tok") === 0, lit(0.0))
        .otherwise(col("dup_tok").cast("double") / col("n_tok")), 4))
      .withColumn("keep", col("dup_frac") <= 0.5)
      .orderBy(col("doc_id"))
  }

  /** Exact oracle for [[dedupSubstring]]: identical sliding windows,
    * duplication decided by equality on the window TEXT (the Spark side
    * matches up to a 128-bit fingerprint collision), identical
    * gaps-and-islands merge. Sums cast to BIGINT (DuckDB sum → HUGEINT). */
  val dedupSubstringSql: String =
    """WITH toked AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> length(x) > 0) AS tk
      |  FROM documents),
      |win AS (
      |  SELECT doc_id, unnest(generate_series(0, len(tk) - 20)) AS start, tk
      |  FROM toked WHERE len(tk) >= 20),
      |winw AS (
      |  SELECT doc_id, start, array_to_string(tk[start + 1 : start + 20], ' ') AS w
      |  FROM win),
      |marked AS (
      |  SELECT doc_id, start FROM (
      |    SELECT doc_id, start, count(*) OVER (PARTITION BY w) AS cnt FROM winw)
      |  WHERE cnt > 1),
      |brks AS (
      |  SELECT doc_id, start,
      |    CASE WHEN start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) > 20
      |         THEN 1 ELSE 0 END AS brk
      |  FROM marked),
      |isl AS (
      |  SELECT doc_id, start,
      |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS g
      |  FROM brks),
      |runs AS (
      |  SELECT doc_id, g, max(start) - min(start) + 20 AS run_tok
      |  FROM isl GROUP BY doc_id, g),
      |perdoc AS (
      |  SELECT doc_id, CAST(SUM(run_tok) AS BIGINT) AS dup_tok FROM runs GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(t.tk) AS BIGINT) AS n_tok,
      |  CAST(coalesce(p.dup_tok, 0) AS BIGINT) AS dup_tok,
      |  round(CASE WHEN len(t.tk) = 0 THEN 0.0
      |        ELSE CAST(coalesce(p.dup_tok, 0) AS DOUBLE) / len(t.tk) END, 4) AS dup_frac,
      |  round(CASE WHEN len(t.tk) = 0 THEN 0.0
      |        ELSE CAST(coalesce(p.dup_tok, 0) AS DOUBLE) / len(t.tk) END, 4) <= 0.5 AS keep
      |FROM documents d
      |JOIN toked t USING (doc_id)
      |LEFT JOIN perdoc p USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------------

  /** 64-bit simhash of a token array, packed into a long: bit i = sign
    * of Σ_tokens (±1 by bit i of xxhash64(token)). Native codegen'd
    * kernel ([[graft.functions.SimHash64]]); needs [[registerAll]]. */
  def simhash64(tokens: Column): Column = graft.functions.simhash64(tokens)

  /**
   * SimHash near-dup pairs: 4 × 16-bit pigeonhole bands (hamming ≤ 3 ⇒
   * at least one band identical), verified with bit_count(xor) ≤ 3.
   *
   * Documents with IDENTICAL signatures collapse to one representative
   * before banding (the groupBy key is the 8-byte signature itself —
   * nothing wider ever shuffles): a dup-heavy corpus would otherwise
   * put whole dup clusters into the same buckets of every band and the
   * self-join would go quadratic in cluster size. Intra-group pairs are
   * emitted directly at hamming 0; cross-group candidacy depends only
   * on the signature, so the expansion reproduces the uncollapsed
   * output exactly.
   */
  def dedupSimhash(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    registerAll(s)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), simhash64(toks(col("text"))).as("sig"))
    // membership via ONE window over the 8-byte signature (the collapse
    // key IS the signature, so no separate fingerprint is needed); the
    // representatives fall out of the same shuffled frame as the rows
    // with doc_id == rep — no members array is ever aggregated. Every
    // signature is "nonempty": a token-less doc still has a well-defined
    // simhash (all-zero counts ⇒ sign bits of 0), and identical
    // signatures verify at hamming 0, so the pair is genuine.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sig"))
    val byRep = docs
      .withColumn("rep", min(col("doc_id")).over(w))
      .select(col("rep"), col("doc_id"), lit(true).as("nonempty"), col("sig"))
    val banded = byRep.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("sig"),
        explode(transform(sequence(lit(0), lit(3)), b =>
          struct(b.as("band"),
            call_function("shiftright", col("sig"), b * 16).bitwiseAND(0xFFFFL).as("band_val")))).as("b"))
      .select(col("doc_id"), col("sig"), col("b.band"), col("b.band_val"))
    val repPairs = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    // intra-group pairs are hamming 0 by construction; cross-group
    // member pairs inherit their representatives' verified distance
    // (hamming depends only on the signatures)
    expandPairs(byRep.select(col("rep"), col("doc_id"), col("nonempty")),
      repPairs, "hamming", lit(0).cast("int"))
  }

  // --- Spark xxhash64 (seed 42) reproduced as DuckDB SQL (r4) --------------
  // Spark's XXH64.hashUnsafeBytes: little-endian 8-byte words
  // (h ^= rotl(w·P2,31)·P1; h = rotl(h,27)·P1 + P4), then one 4-byte
  // block (h ^= k·P1; h = rotl(h,23)·P2 + P3), then per-byte tail
  // (h ^= b·P5; h = rotl(h,11)·P1), then the avalanche. Verified
  // bit-exact against XxHash64Function for every gate-corpus token.
  // 64-bit modular arithmetic rides UHUGEINT intermediates masked back
  // to UBIGINT (the murmur3-oracle discipline, AnnQueries.hashEmbedCtes).
  // The ≥32-byte stripe loop is NOT reproduced: tokens that long (and
  // non-ASCII tokens, where ord() is a code point, not a byte) ERROR
  // loudly instead of silently diverging.
  private val XxM = "18446744073709551615"
  private val XxP1 = "11400714785074694791"
  private val XxP2 = "14029467366897019727"
  private val XxP3 = "1609587929392839161"
  private val XxP4 = "9650029242287828579"
  private val XxP5 = "2870177450012600261"
  private val XxSeedP5Len = "2870177450012600303" // (42 + P5) mod 2^64; + byte length below
  private def xm64(a: String, b: String): String =
    s"CAST(((($a)::UHUGEINT * ($b)::UHUGEINT) & $XxM::UHUGEINT) AS UBIGINT)"
  private def xa64(a: String, b: String): String =
    s"CAST(((($a)::UHUGEINT + ($b)::UHUGEINT) & $XxM::UHUGEINT) AS UBIGINT)"
  private def xrotl(e: String, r: Int): String =
    s"CAST((((($e)::UHUGEINT << $r) | (($e)::UHUGEINT >> ${64 - r})) & $XxM::UHUGEINT) AS UBIGINT)"

  /** CTE chain hashing every distinct whitespace token of `documents`
    * with Spark xxhash64 (seed 42) — expects a CTE `tok(doc_id, tk)`
    * upstream and ends in `hashed(tk, h UBIGINT)`. Guards: any
    * non-ASCII or ≥32-byte token raises a DuckDB error() rather than
    * producing a silently-divergent hash. */
  /** DuckDB: reinterpret the chain's UBIGINT hash `h` as Spark's SIGNED
    * 64-bit value — ONE definition for every oracle that compares or
    * derives from xxhash64 output (a one-character drift in a copy
    * silently breaks a hash oracle). */
  private[queries] val toSignedSql: String =
    "CAST((h::HUGEINT - CASE WHEN h >= 9223372036854775808::UBIGINT" +
      " THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END) AS BIGINT)"

  private[queries] lazy val xxHashTokenCtes: String = {
    val wordMix = xa64(xm64(xrotl(
      s"xor(h, ${xm64(xrotl(xm64("w", XxP2), 31), XxP1)})", 27), XxP1), XxP4)
    val fourMix = xa64(xm64(xrotl(
      s"xor(h4, ${xm64("k4", XxP1)})", 23), XxP2), XxP3)
    val byteMix = xm64(xrotl(s"xor(h, ${xm64("b", XxP5)})", 11), XxP1)
    s"""dtok AS (SELECT DISTINCT tk FROM tok),
       |dcps AS (SELECT tk,
       |  CASE WHEN strlen(tk) >= 32
       |         THEN error('xxhash64 oracle: >=32-byte token needs the stripe loop, not reproduced')
       |       ELSE list_transform(range(1, length(tk)+1), i -> unicode(substr(tk, i, 1)))
       |  END AS cp FROM dtok),
       |byted AS (SELECT tk,
       |  flatten(list_transform(cp, c -> CASE
       |    WHEN c < 128 THEN [c::UBIGINT]
       |    WHEN c < 2048 THEN [(192 + c//64)::UBIGINT, (128 + c%64)::UBIGINT]
       |    WHEN c < 65536 THEN [(224 + c//4096)::UBIGINT, (128 + (c//64)%64)::UBIGINT, (128 + c%64)::UBIGINT]
       |    ELSE [(240 + c//262144)::UBIGINT, (128 + (c//4096)%64)::UBIGINT, (128 + (c//64)%64)::UBIGINT, (128 + c%64)::UBIGINT]
       |  END)) AS bs,
       |  strlen(tk)::UBIGINT AS bl FROM dcps),
       |blocks AS (SELECT tk, bl, bs,
       |  list_transform(range(0, CAST(bl//8 AS INT)), i ->
       |    bs[8*i+1] + 256*bs[8*i+2] + 65536*bs[8*i+3] + 16777216*bs[8*i+4]
       |    + 4294967296*bs[8*i+5] + 1099511627776*bs[8*i+6] + 281474976710656*bs[8*i+7]
       |    + 72057594037927936*bs[8*i+8]) AS words,
       |  CAST((bl//8)*8 AS INT) AS woff,
       |  (bl % 8) >= 4 AS has4 FROM byted),
       |xstep1 AS (SELECT tk, bl, bs, woff, has4,
       |  list_reduce(list_prepend($XxSeedP5Len::UBIGINT + bl, words), (h, w) -> $wordMix) AS h1
       |  FROM blocks),
       |xstep2 AS (SELECT tk, bs, woff, has4,
       |  CASE WHEN has4 THEN (
       |    SELECT $fourMix FROM (SELECT h1 AS h4,
       |      bs[woff+1] + 256*bs[woff+2] + 65536*bs[woff+3] + 16777216*bs[woff+4] AS k4))
       |  ELSE h1 END AS h2,
       |  woff + CASE WHEN has4 THEN 4 ELSE 0 END AS boff
       |  FROM xstep1),
       |xstep3 AS (SELECT tk,
       |  list_reduce(list_prepend(h2, bs[boff+1:]), (h, b) -> $byteMix) AS h3 FROM xstep2),
       |hashed AS (SELECT tk,
       |  xor(h3, h3 >> 33) AS xf1,
       |  ${xm64("xf1", XxP2)} AS xf2,
       |  xor(xf2, xf2 >> 29) AS xf3,
       |  ${xm64("xf3", XxP3)} AS xf4,
       |  xor(xf4, xf4 >> 32) AS h
       |  FROM xstep3)""".stripMargin
  }

  /**
   * Full hash-match oracle for [[dedupSimhash]] (r4 — was rows-only):
   * DuckDB recomputes every document's 64-bit simhash from raw text
   * (Spark xxhash64 in SQL bit math, per-occurrence ±1 bit votes, sign
   * pack) and emits ALL pairs at hamming ≤ 3. This is EXACT, not
   * recall-bound: 4 × 16-bit pigeonhole bands cannot miss a pair with
   * ≤ 3 differing bits, and the Spark side's verify keeps exactly
   * hamming ≤ 3, so banding only prunes — the all-pairs scan and the
   * banded pipeline return identical sets. Token-less docs carry the
   * all-ones signature (64 zero-count votes, each ≥ 0), same as the
   * kernel.
   */
  /** The per-doc simhash signature chain as a WITH-body fragment
    * (ends in `sigs(doc_id, sig UBIGINT)`) — shared by the simhash
    * gate and the dedup_eval composition. */
  private[queries] lazy val simhashSigCtes: String =
    s"""toked AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> length(x) > 0) AS tks
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(tks) AS tk FROM toked),
       |""".stripMargin + xxHashTokenCtes + ",\n" +
    s"""votes AS (
       |  SELECT t.doc_id, b.b,
       |    SUM(CASE WHEN ((hh.h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM tok t JOIN hashed hh USING (tk) CROSS JOIN range(0, 64) b(b)
       |  GROUP BY t.doc_id, b.b),
       |sigs0 AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN v >= 0 THEN (1::HUGEINT << CAST(b AS HUGEINT))
       |             ELSE 0::HUGEINT END) AS UBIGINT) AS sig
       |  FROM votes GROUP BY doc_id),
       |sigs AS (
       |  SELECT d.doc_id, coalesce(s.sig, $XxM::UBIGINT) AS sig
       |  FROM documents d LEFT JOIN sigs0 s USING (doc_id))""".stripMargin

  val dedupSimhashSql: String =
    s"""WITH $simhashSigCtes
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------------
  // N-gram Jaccard join (LSH candidates, exact word-bigram verify)
  // -------------------------------------------------------------------------

  /**
   * Word-bigram Jaccard near-dup join. Candidates come from MinHash-LSH
   * over the bigram sets (same zero-shuffle signature trick); the exact
   * token-set intersection/union runs only on candidate pairs.
   */
  def dedupJaccard(s: SparkSession, dir: String, tau: Double = 0.4): DataFrame = {
    registerAll(s)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), wordNgrams(col("text"), 2).as("ng"))
    lshVerifiedPairs(docs, "ng", tau)
  }

  /**
   * Phrase-grain near-dup over word 5-grams (r10) — the registered key
   * that keeps the SPARSE PPJoin prefix-posting engine — hot-set
   * handling, τ-prefix postings, exact verify — under the DuckDB hash
   * gate itself, not just under specs: every other dedup key routes
   * DENSE on the gate corpus's small universes, so a sparse-path
   * regression would previously have been invisible to the driver.
   * `forceSparse` pins the route; it is also the NATURAL regime here —
   * word 5-grams are nearly unique per document (document frequency
   * ≈ 1–2 on the gate corpus), the exact posting shape of a real
   * large-vocabulary crawl, where prefix pruning has teeth. τ = 0.3 at
   * this grain catches documents sharing long verbatim passages — the
   * quote/boilerplate relation between exact-substring dedup and
   * char-shingle Jaccard. Output ≡ the dense route on the same corpus
   * (regime equality, spec-pinned) ≡ brute force (spec-pinned).
   */
  def dedupPhrase(s: SparkSession, dir: String, tau: Double = 0.3): DataFrame = {
    registerAll(s)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), wordNgrams(col("text"), 5).as("ng"))
    lshVerifiedPairs(docs, "ng", tau, forceSparse = true)
  }

  // -------------------------------------------------------------------------
  // Embedding-cosine near-dup (hyperplane LSH candidates, exact verify)
  // -------------------------------------------------------------------------

  /** Deterministic random hyperplanes: `bits` rows × `dim` components
    * in [-1, 1), derived from a fixed seed at plan time. */
  private[graft] def hyperplanes(bits: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
  }

  /** Pack sign-of-dot-product bits into an int bucket id. Statically
    * unrolled over the (plan-time constant) hyperplanes so each dot is
    * the codegen'd vec_dot kernel, not an interpreted HOF. */
  private[graft] def lshBucket(emb: Column, planes: Array[Array[Float]]): Column =
    planes.zipWithIndex.foldLeft(lit(0)) { case (acc, (p, i)) =>
      acc.bitwiseOR(
        when(vec_dot(emb, typedLit(p.toSeq)) > 0, lit(1 << i)).otherwise(lit(0)))
    }

  /** All band values in one native kernel call
    * ([[graft.functions.HyperplaneBands]]): each plane's threshold is
    * its dot with the corpus mean, i.e. the bands hash the
    * MEAN-CENTERED vector. Correlated corpora (e.g. same-domain hash
    * embeddings, where one uncentered bucket can hold 30 % of the
    * corpus) spread across buckets once the hyperplanes cut through
    * the centroid of the cloud instead of the origin. */
  private def bandVals(emb: Column, planes: Array[Array[Float]],
      offsets: Array[Double], bands: Int, bits: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.HyperplaneBands(
        org.apache.spark.sql.GraftSqlBridge.expression(emb),
        planes.flatten, offsets, bands, bits))

  /** Band width that keeps expected bucket size ~`targetBucket` rows:
    * candidate work per band is Σ bucket² ≈ n²/2^bits, so bits must
    * GROW with the corpus — a fixed 8-bit band is ~n²/256 pairs at
    * 100 TB. Clamped to [8, 24] (recall per band is p^bits; more
    * bands buy recall back). */
  def scaledBandBits(n: Long, targetBucket: Int = 32): Int =
    math.min(24, math.max(8,
      math.ceil(math.log(math.max(1L, n / targetBucket).toDouble) / math.log(2)).toInt))

  /**
   * Embedding near-duplicate pairs over any `(id, embedding)` frame —
   * the corpus is taken AS-IS. Hyperplane LSH with `bands` bands of
   * `bandBits` sign bits each (OR-amplification: any band matching
   * makes a candidate; P[found] = 1−(1−p^bits)^bands, p = 1−θ/π), then
   * exact cosine ≥ τ verifies within-bucket pairs only.
   *
   * Same hot-cluster guard as the MinHash pipeline: identical vectors
   * collapse to one representative on a 128-bit fingerprint first (an
   * exact-dup-heavy corpus would otherwise put whole clusters into the
   * same bucket of every band and the self-join would go quadratic in
   * cluster size); intra-group pairs are emitted directly at cosine
   * 1.0 and cross-group pairs expand from the verified rep pairs.
   */
  def cosinePairs(corpus: DataFrame, idCol: String, embCol: String,
      tau: Double = 0.95, bands: Int = 4, bandBits: Int = 8,
      seed: Long = 7, dim: Int = -1, minAutoBits: Int = 0): DataFrame = {
    val s = corpus.sparkSession
    registerAll(s)
    val d = if (dim > 0) dim
      else corpus.select(col(embCol)).take(1).headOption match {
        case Some(r) => r.getSeq[Float](0).length
        case None => // empty corpus: no pairs, don't fail the dim probe
          return corpus.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
            lit(1.0).as("cosine")).limit(0)
      }
    val base = corpus.select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    // ONE setup pass computes the corpus mean (→ per-plane offsets so
    // the bands hash the mean-centered vector; the verify below stays
    // exact cosine on the ORIGINALS) AND the row count for
    // corpus-scaled band widths when `minAutoBits` > 0 — a separate
    // count() would be a second full scan of the table at 100 TB.
    // Memoized per (session, corpus plan, d) — the r13 regime-memo
    // discipline: the mean is stable per corpus, so repeated queries
    // over the same frame must not re-pay the pass.
    val meanKey = Seq(graft.operators.SessionMemo.sessionKey(s), d,
      base.queryExecution.analyzed.semanticHash()).mkString("|")
    val (mean, nRows) = cosineMeanMemo.getOrElseUpdate(meanKey, {
      val meanRow = base.select((0 until d).map(i =>
        avg(col("embedding")(i)).as(s"m$i")) :+ count(lit(1)).as("n"): _*).head()
      (Array.tabulate(d)(i =>
        if (meanRow.isNullAt(i)) 0.0 else meanRow.getDouble(i)),
        meanRow.getLong(d))
    })
    val bits =
      if (minAutoBits > 0) math.max(minAutoBits, scaledBandBits(nRows))
      else bandBits
    val planes = hyperplanes(bands * bits, d, seed)
    val offsets = planes.map(p =>
      p.indices.map(j => p(j) * mean(j)).sum)

    val groups = base.select(col("vec_id") +:
        fp128(col("embedding"), "graft:vfp2") :+ col("embedding"): _*)
      .groupBy(col("fp1"), col("fp2"))
      .agg(min(col("vec_id")).as("rep"), first(col("embedding")).as("embedding"))

    // band join on IDS ONLY (r13 — guide §2.3 "shuffle keys, not
    // payloads"): the band exchange used to carry the embedding on
    // every one of its `bands` exploded rows (bands × ~4·dim bytes per
    // rep); candidates now shuffle (id, band, band_val), the collision
    // pairs dedup BEFORE any cosine is computed, and the embeddings
    // join back once per side off the same collapsed-groups subtree
    // (its exchange is reused across the three consumers).
    val banded = groups.select(col("rep").as("vec_id"),
      posexplode(bandVals(col("embedding"), planes, offsets, bands, bits))
        .as(Seq("band", "band_val")))
    val candPairs = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    val repEmb = groups.select(col("rep"), col("embedding"))
    val repPairs = candPairs
      .join(repEmb.select(col("rep").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(repEmb.select(col("rep").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(vec_cosine(col("emb_a"), col("emb_b")), 4).as("cosine"))
      .filter(col("cosine") >= tau)

    // membership frame in place of a collect_list(members) array — same
    // scale rule as the MinHash pipeline. "nonempty" = nonzero norm:
    // identical ZERO vectors must not pair (their pairwise vec_cosine
    // is 0.0 — denominator zero — so emitting them at 1.0 would
    // fabricate pairs the exact verify rejects, e.g. two token-less
    // documents hash-embedding to the zero vector).
    val byRep = memberByRep(base.select(
      col("vec_id").as("doc_id") +: fp128(col("embedding"), "graft:vfp2") :+
        (vec_norm(col("embedding")) > 0).as("nonempty"): _*))
    expandPairs(byRep, repPairs, "cosine", lit(1.0))
  }

  /**
   * Embedding-cosine near-dup pairs over the `documents` table: each
   * document embeds through the deterministic [[graft.index.HashEmbedder]]
   * feature-hashing kernel (identical texts ⇒ identical embeddings,
   * near-dup texts ⇒ high cosine), then [[cosinePairs]] finds pairs at
   * cosine ≥ τ. Band width scales with the corpus via
   * [[scaledBandBits]].
   */
  def dedupCosine(s: SparkSession, dir: String, tau: Double = 0.95): DataFrame = {
    registerAll(s)
    val docs = t(s, dir, "documents")
      .select(col("doc_id").as("vec_id"), hash_embed(col("text"), 64).as("embedding"))
    // hash embeddings of same-domain documents are heavily correlated,
    // so buckets skew far beyond the uniform estimate: widen the bands
    // (12-bit floor) and buy recall back with more of them
    // (p^12 ≈ 0.28 at cosine 0.95; 16 bands ⇒ miss ≈ 0.72^16 ≈ 0.5 %
    // per near-threshold pair — empirically 0 missed pairs at both
    // gate scales, measured against the all-pairs scan; banding cost
    // is noise next to the verify, measured ±0 at sf0.1).
    // minAutoBits folds the corpus count into cosinePairs' mean pass —
    // sizing the bands no longer costs a second scan of the table
    cosinePairs(docs, "vec_id", "embedding", tau, bands = 16,
      dim = 64, minAutoBits = 12)
  }

  /** Exact all-pairs oracle for [[dedupCosine]] (upgraded from
    * rows-only in r3): DuckDB recomputes every document's hash
    * embedding from raw text ([[AnnQueries.hashEmbedCtes]] — Spark
    * murmur3 in SQL) and scans all pairs at cosine ≥ 0.95. Sound on
    * the gate corpus because band recall there is empirically 100 %
    * and deterministic (seeded planes, fixed data) — the same
    * documented LSH caveat as [[dedupMinhashSql]]: an adversarial
    * corpus of near-threshold pairs could legitimately diverge.
    * Zero-norm embeddings (token-less docs) never pair on either
    * side. */
  lazy val dedupCosineSql: String =
    // concatenated AFTER stripMargin — see annTextSearchSql's note on
    // `||` vs the margin character
    s"WITH ${AnnQueries.hashEmbedCtes}\n" +
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.e AS DOUBLE[]),
        |                               CAST(b.e AS DOUBLE[])), 4) AS cosine
        |FROM emb a JOIN emb b ON a.doc_id < b.doc_id
        |WHERE a.nrm > 0 AND b.nrm > 0 AND cosine >= 0.95
        |ORDER BY id_a, id_b""".stripMargin

  /**
   * Embedding-cosine near-dup over the `embeddings` TABLE (real vector
   * column, not hash-embedded text) — the oracle-gated variant of
   * [[dedupCosine]]. The corpus is the table plus two deterministic
   * derived slices that give the gate signal the synthetic table lacks
   * (it contains no natural pairs at cosine ≥ 0.95):
   *   - an EXACT copy of every 25th vector (id + 1 000 000) — exercises
   *     the identical-vector collapse;
   *   - a NEAR copy of every 40th-shifted vector (id + 2 000 000, first
   *     component += 0.25f) — exercises banding + exact verify.
   * Both slices are pure float-exact column math, so DuckDB constructs
   * the identical corpus and verifies with all-pairs exact cosine
   * (double accumulation both sides). [[cosinePairs]] itself takes any
   * corpus as-is; the planting lives HERE, in the gate harness.
   *
   * Band recall at these settings (16 bands × 8 bits; p^8 ≈ 0.43 at
   * cosine 0.95 ⇒ miss ≈ (1−0.43)¹⁶ ≈ 1e-4 per pair) is empirically
   * 100 % on the gate corpus — deterministic, fixed seed — so the
   * exact-verify output equals the all-pairs scan there.
   */
  /** The deterministic derived slices both embedding-dedup gates plant:
    * an EXACT copy of every 25th vector (id + 1 000 000) and a NEAR
    * copy of every 40th-shifted vector (id + 2 000 000, first component
    * += 0.25f) — pure float-exact column math DuckDB reproduces
    * bit-for-bit. ONE site so the two oracles can't drift. */
  private[queries] def derivedCopies(base: DataFrame): DataFrame = {
    val exactCopies = base.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val nearCopies = base.filter(col("vec_id") % 40 === 7)
      .select((col("vec_id") + 2000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x + lit(0.25f)).cast("float")).otherwise(x))
          .cast("array<float>").as("embedding"))
    exactCopies.unionByName(nearCopies)
  }

  def dedupCosineEmb(s: SparkSession, dir: String, tau: Double = 0.95): DataFrame = {
    registerAll(s)
    val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = base.unionByName(derivedCopies(base))
    cosinePairs(corpus, "vec_id", "embedding", tau, bands = 16, bandBits = 8, dim = 64)
  }

  /**
   * Incremental embedding near-dup — the vector twin of
   * [[dedupNearIncrementalQuery]]: the embeddings TABLE is the indexed
   * corpus (sketched ONCE into the session's persisted
   * [[graft.index.IvfIndex]] — same build-once treatment as `ann_ivf`,
   * reported as bench "setup"), and the incoming batch is the derived
   * copy slices. Each incoming vector probes its `nProbe` nearest
   * pivot lists only (partition-pruned I/O, no corpus self-join) and
   * gets a best-match verdict at cosine ≥ τ.
   *
   * Probe recall at these settings (8 of 16 lists) is empirically
   * 100 % on the gate corpus — deterministic (seeded pivots, fixed
   * data), so the exact all-pairs oracle is sound here; an adversarial
   * perturbation straddling many Voronoi cells could legitimately
   * diverge, the standard IVF trade-off (raise nProbe to taste).
   */
  def dedupCosineIncrementalQuery(s: SparkSession, dir: String,
      tau: Double = 0.95): DataFrame = {
    registerAll(s)
    val idx = AnnQueries.ivfFor(s, dir, 16)
    val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    idx.probeCosine(derivedCopies(base), tau, nProbe = 8)
  }

  /** Exact all-pairs incoming×corpus oracle for
    * [[dedupCosineIncrementalQuery]] — DOUBLE[] casts for the same
    * double accumulation as vec_cosine (see [[dedupCosineEmbSql]]). */
  val dedupCosineIncrementalSql: String =
    """WITH inc AS (
      |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0
      |  UNION ALL
      |  SELECT vec_id + 2000000,
      |    [CASE WHEN i = 1 THEN CAST(embedding[i] + 0.25 AS FLOAT)
      |          ELSE embedding[i] END FOR i IN range(1, 65)]
      |  FROM embeddings WHERE vec_id % 40 = 7),
      |p AS (
      |  SELECT i.vec_id, e.vec_id AS match_id,
      |    round(list_cosine_similarity(CAST(i.embedding AS DOUBLE[]),
      |                                 CAST(e.embedding AS DOUBLE[])), 4) AS cosine
      |  FROM inc i JOIN embeddings e ON TRUE
      |  WHERE cosine >= 0.95),
      |best AS (
      |  SELECT vec_id, match_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |                       ORDER BY cosine DESC, match_id) AS rn
      |  FROM p)
      |SELECT i.vec_id, b.match_id, b.cosine,
      |  (b.match_id IS NOT NULL) AS is_dup
      |FROM inc i
      |LEFT JOIN (SELECT vec_id, match_id, cosine FROM best WHERE rn = 1) b
      |  USING (vec_id)
      |ORDER BY i.vec_id""".stripMargin

  /** Exact all-pairs oracle for [[dedupCosineEmb]]: the same derived
    * corpus, cosine via DOUBLE[] casts — DuckDB's FLOAT[] overload
    * accumulates in single precision (measured ~2e-7 divergence, enough
    * to flip a 4-decimal rounding near a boundary); the DOUBLE[] path is
    * the same sequential double accumulation as vec_cosine. */
  val dedupCosineEmbSql: String =
    """WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 25 = 0
      |  UNION ALL
      |  SELECT vec_id + 2000000,
      |    [CASE WHEN i = 1 THEN CAST(embedding[i] + 0.25 AS FLOAT)
      |          ELSE embedding[i] END FOR i IN range(1, 65)]
      |  FROM embeddings WHERE vec_id % 40 = 7)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                               CAST(b.embedding AS DOUBLE[])), 4) AS cosine
      |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      |WHERE cosine >= 0.95
      |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------------
  // Exact all-pairs DuckDB oracles for the LSH pipelines
  // -------------------------------------------------------------------------
  //
  // Membership in the LSH output is decided by the EXACT verify — the
  // bands only prune candidates — so whenever the bands catch every
  // qualifying pair, the output is identical to the naive all-pairs
  // scan. That catch probability is 1−(1−j^r)^b per pair: ≈1 for
  // identical sets (always share all bands) and for j well above τ,
  // but genuinely probabilistic near the threshold with small sets
  // (e.g. j = 0.5 on 2–4-element bigram sets ⇒ ~0.65). On the driver
  // corpus recall is exactly 100 % — verified empirically, and
  // deterministic (seeded hashes, fixed data) — so these oracles are a
  // sound gate there; an adversarial corpus of borderline tiny-set
  // pairs could legitimately diverge on dedup_jaccard, which is the
  // standard LSH recall trade-off, not a bug. O(n²) list-intersections
  // are fine for DuckDB at the driver's sf0.01; the Spark side is what
  // scales.

  /** `sets AS (doc_id, s)` CTE + exact all-pairs Jaccard ≥ tau (the
    * SELECT alias is legal in DuckDB's WHERE, so the expression is
    * written once). */
  private def allPairsJaccardSql(setsCte: String, tau: Double): String =
    s"""WITH $setsCte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |        / len(list_distinct(a.s || b.s)), 4) AS jaccard
       |FROM sets a JOIN sets b ON a.doc_id < b.doc_id
       |WHERE jaccard >= $tau
       |ORDER BY id_a, id_b""".stripMargin

  /** Distinct char-5 shingles of the raw text. The range mirrors
    * CharShingles exactly: a sub-5-char doc emits ONE truncated
    * shingle (DuckDB string slices clamp) and an empty doc emits
    * {''} — never an empty set. */
  private val charShingleCte: String =
    """sets AS (
      |  SELECT doc_id,
      |    list_distinct([text[i:i+4] FOR i IN range(1, greatest(length(text) - 5, 0) + 2)]) AS s
      |  FROM documents)""".stripMargin

  /** Distinct lowercase word bigrams, mirroring WordNgrams(text, 2)
    * incl. short inputs: a 1-token doc emits {token} (list slices
    * clamp), a token-less doc emits {''}. */
  private val wordBigramCte: String =
    """sets AS (
      |  SELECT doc_id,
      |    -- coalesce: array_to_string([]) is NULL in DuckDB, but the
      |    -- kernel emits '' for a token-less doc
      |    list_distinct([coalesce(array_to_string(t[i:i+1], ' '), '')
      |                   FOR i IN range(1, greatest(len(t) - 2, 0) + 2)]) AS s
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> length(x) > 0) AS t
      |        FROM documents))""".stripMargin

  val dedupMinhashSql: String = allPairsJaccardSql(charShingleCte, 0.5)
  val dedupJaccardSql: String = allPairsJaccardSql(wordBigramCte, 0.4)

  /** Distinct lowercase word 5-grams — the [[wordBigramCte]] shape at
    * n = 5 (same clamp semantics for short/token-less docs). */
  private val wordFiveGramCte: String =
    """sets AS (
      |  SELECT doc_id,
      |    list_distinct([coalesce(array_to_string(t[i:i+4], ' '), '')
      |                   FOR i IN range(1, greatest(len(t) - 5, 0) + 2)]) AS s
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> length(x) > 0) AS t
      |        FROM documents))""".stripMargin

  val dedupPhraseSql: String = allPairsJaccardSql(wordFiveGramCte, 0.3)

  // ---------------------------------------------------------------------
  // Incremental dedup: new batch vs an already-clean corpus
  // ---------------------------------------------------------------------

  /**
   * Incremental exact dedup — the daily-ingest shape: a new batch lands
   * against an ALREADY-DEDUPED corpus, and each incoming doc gets a
   * verdict (duplicate of the existing corpus / duplicate within the
   * batch — first doc_id wins / keep). Scale: both sides project to the
   * shared [[fp128]] fingerprint (~16 bytes) before anything moves —
   * the join and the intra-batch window shuffle fingerprints, never
   * text, and the batch side is typically tiny next to the corpus
   * (a Bloom filter over the batch keys can prune the corpus scan
   * map-side when it isn't).
   */
  def dedupIncremental(existing: DataFrame, incoming: DataFrame): DataFrame = {
    def fp(df: DataFrame, extra: Column*) =
      df.select(extra ++ fp128(lower(trim(col("text"))), "graft-incr"): _*)
    val ex = fp(existing).distinct().withColumn("in_existing", lit(true))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp1"), col("fp2")).orderBy(col("doc_id"))
    fp(incoming, col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .join(ex, Seq("fp1", "fp2"), "left")
      .select(col("doc_id"),
        coalesce(col("in_existing"), lit(false)).as("dup_of_existing"),
        (col("rn") > 1).as("dup_in_batch"),
        (!coalesce(col("in_existing"), lit(false)) && col("rn") === 1).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Registered shape: even doc_ids play the clean corpus, odd the batch. */
  def dedupIncrementalQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    dedupIncremental(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
  }

  val dedupIncrementalSql: String =
    """WITH existing AS (
      |  SELECT DISTINCT md5(lower(trim(text))) AS text_hash
      |  FROM documents WHERE doc_id % 2 = 0),
      |incoming AS (
      |  SELECT doc_id, md5(lower(trim(text))) AS text_hash,
      |    ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
      |                       ORDER BY doc_id) AS rn
      |  FROM documents WHERE doc_id % 2 = 1)
      |SELECT i.doc_id,
      |  (e.text_hash IS NOT NULL) AS dup_of_existing,
      |  (rn > 1) AS dup_in_batch,
      |  (e.text_hash IS NULL AND rn = 1) AS keep
      |FROM incoming i LEFT JOIN existing e USING (text_hash)
      |ORDER BY i.doc_id""".stripMargin

  /**
   * Incremental NEAR-dup dedup: the [[lshVerifiedPairs]] machinery as a
   * batch-vs-corpus PROBE instead of a self-join — the production
   * daily-ingest shape for fuzzy dedup (CCNet/RefinedWeb run exactly
   * this: today's crawl against the accumulated index). Each side
   * collapses identical sets map-side ([[collapseGroups]] — 128-bit
   * fingerprints, byte-packed signatures), exact-set cross matches
   * resolve by fingerprint equality alone (no set movement), the rest
   * band-join incoming×existing (never existing×existing: the corpus is
   * already clean, so the quadratic half of the work is gone), survive
   * the native prefilter, and only then move shingle sets for the exact
   * Jaccard verify. Per incoming doc: the best match (max jaccard, min
   * id) or null.
   */
  def dedupNearIncremental(existing: DataFrame, incoming: DataFrame,
      tau: Double = 0.5): DataFrame = {
    registerAll(existing.sparkSession)
    val exDocs = existing.select(col("doc_id"), charShingles(col("text"), 5).as("sh"))
    probeNearIncremental(buildCorpusSketch(exDocs, "sh", tau),
      existing, incoming, tau)
  }

  /** The corpus-side probe artifacts, built in-memory with the same
    * adaptive regime choice [[graft.index.DedupIndex]] persists —
    * dense-universe bitmaps or sparse-universe PPJoin postings. */
  private[graft] def buildCorpusSketch(exDocs: DataFrame, setCol: String,
      tau: Double): graft.index.CorpusSketch = {
    import graft.operators.{DedupRegime, PpJoin}
    val tm = PpJoin.tauMicros(tau)
    val exG = collapseGroups(exDocs, setCol)
    // allowBanded = false: the probe is batch × corpus, where posting
    // fan-out is bounded by the batch, not the corpus² — the exact
    // engines stay viable (the saturation flag still surfaces)
    val pick = DedupRegime.pick(exDocs.sparkSession, exDocs, setCol, tau,
      "near_incremental", allowBanded = false)
    pick.dict match {
      case Some((els, dict)) =>
        graft.index.CorpusSketch(exG, tm, None,
          Some((repBitmaps(exDocs, exG, setCol, dict, els.length), els)))
      case None =>
        val hot = pick.hot.getOrElse(PpJoin.hotSet(exDocs, setCol))
        graft.index.CorpusSketch(exG, tm,
          Some((repPostings(exDocs, exG, setCol, tm, hot), hot)), None)
    }
  }

  /** The probe half of [[dedupNearIncremental]], consuming the
    * corpus's PRECOMPUTED [[graft.index.CorpusSketch]] — exactly what
    * [[graft.index.DedupIndex]] persists, so a daily batch probe is
    * O(batch work): the batch computes its own prefix postings or
    * bitmaps under the sketch's FROZEN order/dictionary, and the stored
    * table streams past them in one map-only scan. `existing` (the
    * source table) is read only to re-derive shingle sets for the
    * candidate reps the exact verify needs. Sparse sketches require
    * `tau ≥` the build threshold (stored prefixes are sized for it);
    * dense bitmaps are τ-independent.
    *
    * The probe runs when this is called, as three Spark actions:
    *  1. batch rows — one bounded collect per incoming row of its
    *     doc_id, set fingerprint, text, and prefix elements (sparse) or
    *     bitmap (dense). Over a local `incoming` frame this runs no job.
    *     The driver then holds the batch groups, their reps, the
    *     non-rep ids, and the batch side of the next two actions, which
    *     ride the task closures instead of broadcast joins;
    *  2. candidates — one map-only job over the stored postings (or
    *     bitmaps) and groups. It returns the prefix/bitmap candidate
    *     pairs and the exact fingerprint pairs (a corpus group with the
    *     batch set's fingerprint: Jaccard exactly 1.0, no set moves);
    *  3. verify — an id filter keeps only the candidate reps' source
    *     rows, which are repartitioned by rep over every core, shingled
    *     there and scored on the one-pass [[graft.functions.SetJaccard]]
    *     kernel against the batch sets. Each task returns its best
    *     `(jaccard, ex_rep)` per batch set. The exchange makes this two
    *     jobs.
    * The pick then runs on the driver. A group's rep is its minimum
    * doc_id on both sides (the [[graft.index.DedupIndex]] rep
    * invariant), so the best member of the best corpus group is its
    * rep and corpus membership is never expanded. The result comes
    * back as a local frame: one row per incoming row, in doc_id order,
    * with the best match (max jaccard, then min id) or null. A batch
    * past [[MaxProbeBatch]] rows is probed in doc_id slices, and a slice
    * with more than [[MaxProbePairs]] candidate pairs is halved. */
  def probeNearIncremental(sk: graft.index.CorpusSketch,
      existing: DataFrame, incoming: DataFrame, tau: Double = 0.5): DataFrame =
    probeNearCapped(sk, existing, incoming, tau, MaxProbePairs)

  /** [[probeNearIncremental]] with the candidate-pair cap of one verify
    * as a parameter. */
  private[graft] def probeNearCapped(sk: graft.index.CorpusSketch, existing: DataFrame,
      incoming: DataFrame, tau: Double, maxPairs: Int): DataFrame = {
    import graft.operators.PpJoin
    val spark = existing.sparkSession
    registerAll(spark) // kernels resolve via the registry
    if (sk.dense.isEmpty)
      require(PpJoin.tauMicros(tau) >= sk.tauMicros,
        s"probe tau=$tau is below the index build threshold " +
          s"(${sk.tauMicros / 1e6}) — stored prefixes would be too short")
    val tm = PpJoin.tauMicros(tau)
    val head = batchRows(sk, incoming, tm, MaxProbeBatch + 1)
    val out =
      if (head.length <= MaxProbeBatch) probeBatch(sk, existing, head, tau, maxPairs)
      else {
        // over the bound: the ids alone (8 B a row, less than the result
        // this returns) cut the batch into slices probed one at a time
        val ids = incoming.select(col("doc_id").cast("long")).collect()
        val nulls = ids.count(_.isNullAt(0))
        val keys = ids.filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted
        probeSlices(keys, MaxProbeBatch).toArray.flatMap { case (lo, hi) =>
          val part = incoming.filter(col("doc_id").between(lo, hi))
          probeBatch(sk, existing, batchRows(sk, part, tm, Int.MaxValue), tau, maxPairs)
        } ++ Array.fill(nulls)(Row(null, null, null, false))
      }
    val schema = StructType(Seq(incoming.schema("doc_id"),
      StructField("match_id", LongType), StructField("jaccard", DoubleType),
      StructField("is_dup", BooleanType, nullable = false)))
    // doc_id order, nulls first — the order of orderBy(doc_id)
    val sorted = out.sortBy(r => if (r.isNullAt(0)) (0, 0L)
      else (1, r.get(0).asInstanceOf[Number].longValue()))
    spark.createDataFrame(java.util.Arrays.asList(sorted: _*), schema)
  }

  /** Batch rows one probe pass takes at once — the bound on what the
    * driver holds of a batch (its rows, candidate sides and texts). A
    * larger batch is probed in doc_id slices of at most this many rows
    * ([[probeSlices]]); a probe keeps no state across batch docs, so
    * slicing changes no result. */
  private[graft] val MaxProbeBatch = 200000

  /** Candidate pairs one verify takes onto the driver and into its task
    * closure (the repo-wide 256 Ki broadcast cap). A slice with more is
    * halved, down to a single doc_id, whose pairs are taken whatever
    * their number. */
  private val MaxProbePairs = 1 << 18

  /** Inclusive doc_id ranges that cut ascending `ids` into runs of at
    * most `bound` ids. A doc_id never straddles two ranges, so an id
    * repeated more than `bound` times gets a range of its own. */
  private[graft] def probeSlices(ids: Array[Long], bound: Int): Seq[(Long, Long)] = {
    require(bound > 0, s"slice bound must be positive, got $bound")
    val out = Seq.newBuilder[(Long, Long)]
    var i = 0
    while (i < ids.length) {
      var end = math.min(i + bound, ids.length)
      if (end < ids.length && ids(end) == ids(end - 1)) {
        // the cut splits a run of one id: end the slice before the run,
        // or, when the run fills the whole slice, after it
        var s = end - 1
        while (s > i && ids(s - 1) == ids(s)) s -= 1
        end = s
        if (end == i) {
          end = i + 1
          while (end < ids.length && ids(end) == ids(i)) end += 1
        }
      }
      out += ((ids(i), ids(end - 1)))
      i = end
    }
    out.result()
  }

  /** One incoming row as action 1 collects it: the doc_id as given
    * (echoed in the result), the same id as a long key (None when
    * null), the 128-bit fingerprint of its shingle set, whether the set
    * is non-empty (a null set is not), the text (the verify shingles it
    * again), the count `n` of distinct hashed elements, and `cand`: the
    * prefix elements under the frozen order (sparse, `Array[Long]`) or
    * the bitmap under the frozen dictionary (dense, `Array[Byte]`). */
  private final case class BatchRow(id: Any, key: Option[Long], fp: (Long, Long),
      nonempty: Boolean, text: String, n: Int, cand: AnyRef)

  /** Action 1: the batch rows, at most `limit` of them. */
  private def batchRows(sk: graft.index.CorpusSketch, incoming: DataFrame, tm: Long,
      limit: Int): Array[BatchRow] = {
    import graft.operators.{DenseJaccard, PpJoin}
    val els = PpJoin.hashedEls(col("sh"))
    val cand = sk.dense match {
      case Some((_, dictEls)) =>
        DenseJaccard.bitmapCol(els, DenseJaccard.dictFromEls(dictEls), dictEls.length)
      case None => PpJoin.prefixEls("sh", tm, sk.postings.get._2)
    }
    incoming.select(col("doc_id"), col("doc_id").cast("long").as("key"), col("text"),
        charShingles(col("text"), 5).as("sh"))
      .select(Seq(col("doc_id"), col("key")) ++ fp128(col("sh"), "graft:fp2") ++ Seq(
        (size(col("sh")) > 0).as("nonempty"), col("text"), size(els).as("n"),
        cand.as("cand")): _*)
      .limit(limit).collect()
      .map { r =>
        val c: AnyRef = if (r.isNullAt(7)) null
          else if (sk.dense.isDefined) r.getAs[Array[Byte]](7)
          else r.getSeq[Long](7).toArray
        BatchRow(r.get(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
          (r.getLong(2), r.getLong(3)), !r.isNullAt(4) && r.getBoolean(4),
          r.getString(5), if (r.isNullAt(6)) 0 else r.getInt(6), c)
      }
  }

  /** Probe one slice whose rows action 1 already collected; returns one
    * `(doc_id, match_id, jaccard, is_dup)` row per batch row. */
  private def probeBatch(sk: graft.index.CorpusSketch, existing: DataFrame,
      rows: Array[BatchRow], tau: Double, maxPairs: Int): Array[Row] = {
    val keyed = rows.filter(_.key.isDefined)
    val ids = keyed.map(_.key.get).distinct.sorted
    bestPerSet(sk, existing, keyed, tau, if (ids.length > 1) maxPairs else Int.MaxValue) match {
      case Some(best) =>
        // a repeated doc_id takes the best over every set it carries, the
        // same grain as a pick partitioned by doc_id
        val bestById = keyed.groupBy(_.key.get).view.mapValues(rs =>
          rs.flatMap(r => best.get(r.fp)).sortBy { case (j, m) => (-j, m) }.headOption).toMap
        rows.map { r =>
          r.key.flatMap(bestById) match {
            case Some((j, m)) => Row(r.id, m, j, true)
            case None => Row(r.id, null, null, false)
          }
        }
      case None =>
        // more candidate pairs than one verify takes: halve the slice
        probeSlices(ids, (ids.length + 1) / 2).toArray.flatMap { case (lo, hi) =>
          probeBatch(sk, existing,
            keyed.filter(r => lo <= r.key.get && r.key.get <= hi), tau, maxPairs)
        } ++ rows.filter(_.key.isEmpty).map(r => Row(r.id, null, null, false))
    }
  }

  /** Actions 2 and 3: per batch set fingerprint, its best corpus match
    * `(jaccard, rep)` at `jaccard ≥ tau` (max jaccard, then min rep);
    * None when the slice has more than `maxPairs` candidate pairs. */
  private def bestPerSet(sk: graft.index.CorpusSketch, existing: DataFrame,
      keyed: Array[BatchRow], tau: Double,
      maxPairs: Int): Option[Map[(Long, Long), (Double, Long)]] = {
    import graft.operators.{DenseJaccard, PpJoin}
    val live = keyed.filter(_.nonempty).map(_.fp).distinct
    if (live.isEmpty) return Some(Map.empty)
    val tm = PpJoin.tauMicros(tau)
    val byId = keyed.groupBy(_.key.get)
    // a group's rep is its minimum doc_id, as on the corpus side; an id
    // that is the rep of none of its rows' groups carries no postings
    val repOf = keyed.groupBy(_.fp).view.mapValues(_.map(_.key.get).min).toMap
    val posting = keyed.filter(r =>
      r.nonempty && byId(r.key.get).exists(x => repOf(x.fp) == r.key.get))

    // action 2: prefix/bitmap candidates and exact fingerprint pairs,
    // one map-only job
    val near = sk.dense match {
      case Some((exBms, _)) =>
        // batch bitmaps under the frozen dictionary: batch elements
        // outside it set no bit but count in n — they cannot intersect
        // any indexed set, so J stays exact
        DenseJaccard.crossPairs(posting.toSeq.map(r =>
          (r.key.get, r.n, r.cand.asInstanceOf[Array[Byte]])), exBms, tm)
      case None =>
        // batch prefixes at the (tighter) probe τ: the first common
        // element of a qualifying pair is inside each side's OWN-τ
        // prefix, so a tight batch prefix against a loose stored prefix
        // loses nothing
        PpJoin.crossPairs(posting.toSeq.map(r =>
          (r.key.get, r.n, r.cand.asInstanceOf[Array[Long]])), sk.postings.get._1, tm)
    }
    val liveFps = LongPairSet(live.length)
    live.foreach { case (a, b) => liveFps.add(a, b) }
    val cand = near.select(lit(false).as("exact"), col("in_rep"), lit(0L).as("fp1"),
        lit(0L).as("fp2"), col("ex_rep"))
      .unionByName(sk.groups
        .filter(pairSetContains(col("fp1"), col("fp2"), liveFps))
        .select(lit(true).as("exact"), lit(null).cast("long").as("in_rep"),
          col("fp1"), col("fp2"), col("rep").as("ex_rep")))
    // each partition returns its exact pairs and its near pairs, or only
    // their count once it passes the cap
    val summary = cand.rdd.mapPartitions { it =>
      var n = 0L
      val exact = Array.newBuilder[(Long, Long, Long)]
      val pairs = Array.newBuilder[(Long, Long)]
      it.foreach { r =>
        if (r.getBoolean(0)) exact += ((r.getLong(2), r.getLong(3), r.getLong(4)))
        else {
          n += 1
          if (n <= maxPairs) pairs += ((r.getLong(1), r.getLong(4)))
        }
      }
      Iterator((n, exact.result(), if (n <= maxPairs) pairs.result() else Array.empty[(Long, Long)]))
    }.collect()
    if (summary.map(_._1).sum > maxPairs) return None
    val exactReps = summary.flatMap(_._2).groupMap(e => (e._1, e._2))(_._3)

    // a near pair of a rep whose rows all carry its one set, against a
    // corpus group with that set's fingerprint, is already settled at
    // 1.0: the verify skips it
    val settled = LongPairSet(math.max(exactReps.valuesIterator.map(_.length).sum, 1))
    for ((fp, exs) <- exactReps; k = repOf(fp); if byId(k).forall(_.fp == fp);
         ex <- exs) settled.add(k, ex)
    val pairs = summary.flatMap(_._3).distinct.filterNot { case (k, ex) => settled.contains(k, ex) }

    val verified = if (pairs.isEmpty) Map.empty[(Long, Long), (Double, Long)]
      else verifyPairs(existing, pairs, keyed, tau)
    Some(live.flatMap { fp =>
      val exact = exactReps.get(fp).map(exs => (1.0, exs.min))
      (exact.toSeq ++ verified.get(fp)).sortBy { case (j, m) => (-j, m) }
        .headOption.map(fp -> _)
    }.toMap)
  }

  /** Action 3: the exact Jaccard of every candidate pair `(in_rep,
    * ex_rep)`, reduced to the best `(jaccard, ex_rep)` at `jaccard ≥ tau`
    * per batch set fingerprint (max jaccard, then min rep). The pairs
    * and the candidate batch rows' texts ride the task closure; the
    * source rows of the candidate reps are repartitioned by rep into
    * one task per core (an explicit count, which AQE does not coalesce),
    * so one large source file is no longer one task's work. */
  private def verifyPairs(existing: DataFrame, pairs: Array[(Long, Long)],
      keyed: Array[BatchRow], tau: Double): Map[(Long, Long), (Double, Long)] = {
    val inOf = pairs.groupMap(_._2)(_._1)
    // every set a candidate in_rep carries: a repeated doc_id can carry several
    val wanted = pairs.map(_._1).toSet
    val textsOf = keyed.filter(r => r.nonempty && wanted(r.key.get))
      .groupMap(_.key.get)(r => (r.fp, r.text))
    val exReps = LongPairSet(inOf.size)
    inOf.keys.foreach(e => exReps.add(e, e))
    val parts = math.max(1,
      math.min(inOf.size, existing.sparkSession.sparkContext.defaultParallelism))
    def better(a: (Double, Long), b: (Double, Long)) =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    def shingles(t: String) = SketchUtil.charShingles(UTF8String.fromString(t), 5)
    existing.select(col("doc_id").cast("long").as("ex_rep"), col("text"))
      .filter(pairSetContains(col("ex_rep"), col("ex_rep"), exReps))
      .repartition(parts, col("ex_rep"))
      .rdd.mapPartitions { rows =>
        val sets = scala.collection.mutable.HashMap.empty[Long, Array[((Long, Long), ArrayData)]]
        val best = scala.collection.mutable.HashMap.empty[(Long, Long), (Double, Long)]
        rows.foreach { r =>
          if (!r.isNullAt(1)) {
            val ex = r.getLong(0)
            val se = shingles(r.getString(1))
            inOf(ex).foreach { k =>
              sets.getOrElseUpdate(k, textsOf(k).map { case (fp, t) => (fp, shingles(t)) })
                .foreach { case (fp, si) =>
                  // rounded as Spark's round(j, 4) rounds a double
                  val j = BigDecimal(SetJaccard.ratio(si, se, 0))
                    .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
                  if (j >= tau && best.get(fp).forall(b => better((j, ex), b)))
                    best(fp) = (j, ex)
                }
            }
          }
        }
        best.iterator
      }.collect()
      .groupMapReduce(_._1)(_._2)((a, b) => if (better(b, a)) b else a)
  }

  private def pairSetContains(a: Column, b: Column, set: LongPairSet): Column =
    org.apache.spark.sql.GraftSqlBridge.column(PairSetContains(
      org.apache.spark.sql.GraftSqlBridge.expression(a),
      org.apache.spark.sql.GraftSqlBridge.expression(b), set))

  /** Corpus-side sketch indexes, build-once per (session, dir) — the
    * steady-state daily shape is probe-against-persisted-index, so the
    * registered query must bench the PROBE (same treatment as ann_ivf;
    * the build cost is reported in the bench's "setup"). */
  private val dedupIdxCache =
    new graft.operators.SessionMemo[graft.index.DedupIndex]()

  /**
   * Memoized PERSISTED twins of the label/pair frames the EVAL family
   * composes (r9 — the r8 verdict's #4): dedup_profile and
   * dedup_by_source both need [[dedupKeep]]'s labels, and
   * dedup_sweep / dedup_eval / dedup_minhash_acc re-ran the
   * jaccard/simhash pair pipelines per invocation — ~18 s of the r8
   * bench was the same pair pipeline recomputed ~5×. Keyed by
   * (session, dir) at the DEFAULT parameters only; the primitive
   * registered keys (dedup_keep/jaccard/simhash) stay UNcached so
   * their bench rows keep measuring the real pipelines, and any
   * non-default-parameter caller computes fresh. Evicted or
   * superseded frames unpersist (LRU past 16 (session, dir, kind)
   * entries — the codePath/bucketCache discipline applied to dedup
   * frames). The frames are label/pair grain (ids + small scalars,
   * never text), so persisting them holds near-dup-density-bounded
   * state, not a corpus copy.
   */
  private val evalFrameCache = new graft.operators.SessionMemo[DataFrame](
    max = 16, onEvict = _.unpersist(false))

  private def memoFrame(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame =
    evalFrameCache.getOrElseUpdate(
      s"${graft.operators.SessionMemo.sessionKey(s)}#$dir#$kind",
      build.persist())

  private[graft] def keepLabelsMemo(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "keep")(dedupKeep(s, dir))
  private[graft] def jaccardPairsMemo(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "jaccard")(dedupJaccard(s, dir))
  private[graft] def simhashPairsMemo(s: SparkSession, dir: String): DataFrame =
    memoFrame(s, dir, "simhash")(dedupSimhash(s, dir))

  /** Registered shape: even doc_ids are the clean corpus (sketched once
    * into a persisted [[graft.index.DedupIndex]]), odd the batch. */
  def dedupNearIncrementalQuery(s: SparkSession, dir: String): DataFrame = {
    registerAll(s)
    val docs = t(s, dir, "documents")
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val idx = dedupIdxCache.getOrElseUpdate(s"${graft.operators.SessionMemo.sessionKey(s)}#$dir",
      graft.index.DedupIndex.buildOrLoad(existing,
        // v2: the on-disk layout gained postings + hot + a tau'd
        // manifest; a pre-PPJoin index at the old path must not load
        s"/tmp/graft-dedupidx-v2/${AnnQueries.digestOf(dir)}"))
    idx.probe(existing, docs.filter(col("doc_id") % 2 === 1))
  }

  /** Exact all-pairs incoming×existing oracle — the bands only prune,
    * the exact verify decides (same soundness argument as
    * [[dedupMinhashSql]]). */
  val dedupNearIncrementalSql: String =
    s"""WITH $charShingleCte,
       |inc AS (SELECT * FROM sets WHERE doc_id % 2 = 1),
       |ex AS (SELECT * FROM sets WHERE doc_id % 2 = 0),
       |p AS (
       |  SELECT i.doc_id AS doc_id, e.doc_id AS match_id,
       |    ROUND(CAST(len(list_intersect(i.s, e.s)) AS DOUBLE)
       |          / len(list_distinct(i.s || e.s)), 4) AS jaccard
       |  FROM inc i JOIN ex e ON TRUE
       |  WHERE jaccard >= 0.5),
       |best AS (
       |  SELECT doc_id, match_id, jaccard,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |                       ORDER BY jaccard DESC, match_id) AS rn
       |  FROM p)
       |SELECT d.doc_id, b.match_id, b.jaccard,
       |  (b.match_id IS NOT NULL) AS is_dup
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
       |LEFT JOIN (SELECT doc_id, match_id, jaccard FROM best WHERE rn = 1) b
       |  USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /**
   * Dedup cluster profile (r8) — the report a curation run publishes
   * after labeling: the cluster-SIZE distribution (how many clusters
   * of each size, how much of the corpus they hold). One boilerplate
   * template duplicated 10⁷ times shows up here as a single huge
   * cluster long before anyone greps the output. Composes
   * [[dedupKeep]]'s labels (its scale shape — exact candidates,
   * star edges, capped union-find — is inherited unchanged): labels →
   * per-cluster sizes (keep_id-keyed partial agg) → per-size counts
   * (size-keyed partial agg, a frame bounded by the largest cluster).
   * Shares round at 6 dp over exact longs — hash oracle by
   * composition over the dedup_keep recursive-CTE oracle.
   */
  def dedupProfile(s: SparkSession, dir: String): DataFrame = {
    val labels = keepLabelsMemo(s, dir)
    val sizes = labels.groupBy(col("keep_id")).agg(count(lit(1)).as("sz"))
    val tot = labels.count()
    sizes.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        round((col("cluster_size") * col("n_clusters")).cast("double") / tot, 6)
          .as("corpus_share"))
      .orderBy(col("cluster_size"))
  }

  /** dedup_keep's component CTEs + two grouping levels. */
  lazy val dedupProfileSql: String = {
    s"""${dedupKeepBaseCtes},
       |labels AS (
       |  SELECT d.doc_id, coalesce(c.keep_id, d.doc_id) AS keep_id
       |  FROM documents d LEFT JOIN comp c USING (doc_id)),
       |szs AS (SELECT keep_id, count(*) AS sz FROM labels GROUP BY keep_id),
       |tot AS (SELECT count(*) AS n FROM labels)
       |SELECT sz AS cluster_size, count(*) AS n_clusters,
       |  CAST(sz * count(*) AS BIGINT) AS n_docs,
       |  ROUND(CAST(sz * count(*) AS DOUBLE) / (SELECT n FROM tot), 6)
       |    AS corpus_share
       |FROM szs
       |GROUP BY sz
       |ORDER BY cluster_size""".stripMargin
  }

  /**
   * Duplication rate per source (r8) — the "which feed is polluting
   * the corpus" report: [[dedupProfile]] says HOW clustered the corpus
   * is; this says WHO brought the copies. Composes [[dedupKeep]]'s
   * labels (scale shape inherited) with the documents' source column:
   * per source, doc count, dup count (doc_id ≠ keep_id) and the 6-dp
   * dup rate. A syndicated mirror or re-crawled feed surfaces here
   * as one source with an outlier rate — the number that decides
   * whether to drop the SOURCE rather than dedup its documents.
   *
   * Scale: the label frame joins the (doc_id, source) projection on
   * the id key, then one source-grain partial agg. Nothing beyond
   * dedup_keep's own plan plus a pruned-column join.
   */
  def dedupBySource(s: SparkSession, dir: String): DataFrame = {
    val labels = keepLabelsMemo(s, dir).select(col("doc_id"), col("is_dup"))
    t(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(labels, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        round(col("n_dups").cast("double") / col("n_docs"), 6).as("dup_rate"))
      .orderBy(col("source"))
  }

  /** dedup_keep's component CTEs + the source rollup. */
  lazy val dedupBySourceSql: String =
    s"""${dedupKeepBaseCtes},
       |labels AS (
       |  SELECT d.doc_id, d.source,
       |    d.doc_id != coalesce(c.keep_id, d.doc_id) AS is_dup
       |  FROM documents d LEFT JOIN comp c USING (doc_id))
       |SELECT source, count(*) AS n_docs,
       |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       |  ROUND(CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
       |        / count(*), 6) AS dup_rate
       |FROM labels
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /**
   * Dedup threshold sweep (r8) — [[dedupEval]] generalized into the
   * TUNING TABLE: one (τ, max-hamming) grid of precision/recall cells,
   * the artifact an operator actually reads to pick the cheap filter's
   * operating point ("hamming ≤ 2 keeps 95 % precision at τ = 0.5" is
   * a cell here, not a guess). Both pair pipelines run ONCE (exact
   * word-bigram jaccard ≥ 0.4 support; simhash hamming ≤ 3 support);
   * the 16-cell grid broadcasts onto their full-outer pair join, and
   * each cell counts truth/candidates/hits at its thresholds. Cells
   * sit within the emitted supports by construction (τ ≥ 0.4,
   * h ≤ 3), so every count is exact, not truncated.
   *
   * Scale: the pair frame is near-dup-density bounded; the grid cross
   * multiplies it by 16 before ONE partial-agg pass — nothing
   * corpus-grain after the component pipelines.
   */
  def dedupSweep(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val truth = jaccardPairsMemo(s, dir).select(col("id_a"), col("id_b"),
      col("jaccard"))
    val cand = simhashPairsMemo(s, dir).select(col("id_a"), col("id_b"),
      col("hamming"))
    val grid = (for (t <- Seq(0.4, 0.5, 0.6, 0.7); h <- 0 to 3)
      yield (t, h)).toDF("tau", "hmax")
    truth.join(cand, Seq("id_a", "id_b"), "full_outer")
      .crossJoin(broadcast(grid))
      .groupBy(col("tau"), col("hmax"))
      .agg(
        sum(when(col("jaccard").isNotNull && col("jaccard") >= col("tau"), 1L)
          .otherwise(0L)).as("n_truth"),
        sum(when(col("hamming").isNotNull && col("hamming") <= col("hmax"), 1L)
          .otherwise(0L)).as("n_cand"),
        sum(when(col("jaccard").isNotNull && col("jaccard") >= col("tau") &&
          col("hamming").isNotNull && col("hamming") <= col("hmax"), 1L)
          .otherwise(0L)).as("n_hit"))
      .select(col("tau"), col("hmax"), col("n_truth"), col("n_cand"),
        col("n_hit"),
        when(col("n_cand") > 0,
          round(col("n_hit").cast("double") / col("n_cand"), 4))
          .as("precision"),
        when(col("n_truth") > 0,
          round(col("n_hit").cast("double") / col("n_truth"), 4))
          .as("recall"))
      .orderBy(col("tau"), col("hmax"))
  }

  /** Both transcriptions once, the same 16-cell grid, same guards. */
  lazy val dedupSweepSql: String =
    s"""WITH $simhashSigCtes,
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
       |$wordBigramCte,
       |truth AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |          / len(list_distinct(a.s || b.s)), 4) AS jaccard
       |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
       |  WHERE jaccard >= 0.4),
       |pairs AS (
       |  SELECT COALESCE(t.id_a, c.id_a) AS id_a,
       |    COALESCE(t.id_b, c.id_b) AS id_b, t.jaccard, c.hamming
       |  FROM truth t FULL OUTER JOIN cand c
       |    ON t.id_a = c.id_a AND t.id_b = c.id_b),
       |grid AS (
       |  SELECT CAST(tau AS DOUBLE) AS tau, hmax
       |  FROM (VALUES (0.4), (0.5), (0.6), (0.7)) t(tau),
       |       (VALUES (0), (1), (2), (3)) h(hmax)),
       |cells AS (
       |  SELECT tau, hmax,
       |    CAST(SUM(CASE WHEN jaccard IS NOT NULL AND jaccard >= tau
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       |    CAST(SUM(CASE WHEN hamming IS NOT NULL AND hamming <= hmax
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       |    CAST(SUM(CASE WHEN jaccard IS NOT NULL AND jaccard >= tau
       |              AND hamming IS NOT NULL AND hamming <= hmax
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |  FROM pairs CROSS JOIN grid
       |  GROUP BY tau, hmax)
       |SELECT tau, hmax, n_truth, n_cand, n_hit,
       |  CASE WHEN n_cand > 0
       |    THEN ROUND(CAST(n_hit AS DOUBLE) / n_cand, 4) END AS precision,
       |  CASE WHEN n_truth > 0
       |    THEN ROUND(CAST(n_hit AS DOUBLE) / n_truth, 4) END AS recall
       |FROM cells
       |ORDER BY tau, hmax""".stripMargin

  /**
   * MinHash/KMV estimator accuracy (r8) — the k-BUDGET table: when a
   * corpus outgrows exact verification, the engine estimates pair
   * Jaccard from bottom-k sketches (Broder's min-wise resemblance over
   * the merged sample — the q_kmv_setops estimator); this measures
   * that estimator against exact token Jaccard ON THIS CORPUS'S pairs
   * at k = 16 and k = 64, per pair. "k=64 stays within ±0.08" is a row
   * here, not a guess — the number that prices sketch bytes against
   * verification error before anyone flips the estimate path on.
   *
   * Scale: per-doc sketches are the bounded `kmv_bottomk` aggregate
   * (k doubles of state, map-side combine); the pair frame comes from
   * the audited exact pipeline; all estimator arithmetic runs inside
   * per-pair bounded arrays. Token-less docs carry no sketch and drop
   * from the pair frame (inner joins — mirrored by the oracle).
   */
  def dedupMinhashAcc(s: SparkSession, dir: String): DataFrame = {
    registerAll(s)
    val du = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.queries.TextQueries.toks(col("text"))).as("token"))
      .distinct()
      .select(col("doc_id"), col("token"),
        PipelineQueries.hashUniform(col("token")).as("u"))
    val sk = du.groupBy(col("doc_id"))
      .agg(graft.functions.kmv_bottomk(col("u"), 64).as("sk64"),
        graft.functions.kmv_bottomk(col("u"), 16).as("sk16"),
        sort_array(collect_set(col("token"))).as("ts"))
    def est(a: String, b: String, k: Int): Column = {
      val merged = slice(array_sort(array_distinct(
        concat(col(a), col(b)))), 1, k)
      val both = filter(merged,
        v => array_contains(col(a), v) && array_contains(col(b), v))
      floor(size(both).cast("double") / size(merged) * 1e4 + 0.5) / 1e4
    }
    val ex = floor(size(array_intersect(col("tsa"), col("tsb"))).cast("double")
      / size(array_union(col("tsa"), col("tsb"))) * 1e4 + 0.5) / 1e4
    jaccardPairsMemo(s, dir).select(col("id_a"), col("id_b"))
      .join(sk.select(col("doc_id").as("id_a"), col("sk64").as("a64"),
        col("sk16").as("a16"), col("ts").as("tsa")), "id_a")
      .join(sk.select(col("doc_id").as("id_b"), col("sk64").as("b64"),
        col("sk16").as("b16"), col("ts").as("tsb")), "id_b")
      .select(col("id_a"), col("id_b"),
        ex.as("jaccard_tokens"),
        est("a16", "b16", 16).as("est_16"),
        est("a64", "b64", 64).as("est_64"))
      .select(col("id_a"), col("id_b"), col("jaccard_tokens"),
        col("est_16"),
        (floor(abs(col("est_16") - col("jaccard_tokens")) * 1e4 + 0.5) / 1e4)
          .as("err_16"),
        col("est_64"),
        (floor(abs(col("est_64") - col("jaccard_tokens")) * 1e4 + 0.5) / 1e4)
          .as("err_64"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Same sketches (sorted distinct bottom-k of the transcribed
    * uniforms), same Broder arithmetic, same rounded-error chain. */
  lazy val dedupMinhashAccSql: String = {
    val toSigned = toSignedSql
    def est(a: String, b: String, k: Int): String =
      s"""FLOOR(CAST(len(list_filter((list_sort(list_distinct($a || $b)))[1:$k],
         |  v -> list_contains($a, v) AND list_contains($b, v))) AS DOUBLE)
         |  / len((list_sort(list_distinct($a || $b)))[1:$k]) * 1e4 + 0.5) / 1e4""".stripMargin
    s"""WITH toked AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> length(x) > 0) AS tks
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(tks) AS tk FROM toked),
       |dist AS (SELECT DISTINCT doc_id, tk FROM tok),
       |$xxHashTokenCtes,
       |uni AS (SELECT tk,
       |  GREATEST(LEAST(
       |    CAST($toSigned AS DOUBLE) / 18446744073709551616.0 + 0.5,
       |    0.9999999999999999), 5.421010862427522e-20) AS u
       |  FROM hashed),
       |du AS (SELECT dist.doc_id, dist.tk, uni.u
       |       FROM dist JOIN uni ON dist.tk = uni.tk),
       |sk AS (
       |  SELECT doc_id,
       |    (list_sort(list_distinct(list(u))))[1:64] AS sk64,
       |    (list_sort(list_distinct(list(u))))[1:16] AS sk16,
       |    list_sort(list(DISTINCT tk)) AS ts
       |  FROM du GROUP BY doc_id),
       |$wordBigramCte,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
       |  WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |              / len(list_distinct(a.s || b.s)), 4) >= 0.4),
       |j AS (
       |  SELECT p.id_a, p.id_b,
       |    sa.sk64 AS a64, sa.sk16 AS a16, sa.ts AS tsa,
       |    sb.sk64 AS b64, sb.sk16 AS b16, sb.ts AS tsb
       |  FROM pairs p
       |  JOIN sk sa ON sa.doc_id = p.id_a
       |  JOIN sk sb ON sb.doc_id = p.id_b),
       |vals AS (
       |  SELECT id_a, id_b,
       |    FLOOR(CAST(len(list_intersect(tsa, tsb)) AS DOUBLE)
       |          / len(list_distinct(tsa || tsb)) * 1e4 + 0.5) / 1e4
       |      AS jaccard_tokens,
       |    ${est("a16", "b16", 16)} AS est_16,
       |    ${est("a64", "b64", 64)} AS est_64
       |  FROM j)
       |SELECT id_a, id_b, jaccard_tokens,
       |  est_16, FLOOR(abs(est_16 - jaccard_tokens) * 1e4 + 0.5) / 1e4 AS err_16,
       |  est_64, FLOOR(abs(est_64 - jaccard_tokens) * 1e4 + 0.5) / 1e4 AS err_64
       |FROM vals
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The component CTEs shared by [[dedupKeepSql]] and
    * [[dedupProfileSql]] (everything up to per-doc labels). */
  private lazy val dedupKeepBaseCtes: String =
    s"""WITH RECURSIVE $charShingleCte,
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |          / len(list_distinct(a.s || b.s)), 4) AS jaccard
       |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
       |  WHERE jaccard >= 0.5),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM p
       |  UNION ALL SELECT id_b, id_a FROM p),
       |reach AS (
       |  SELECT src AS doc_id, src AS r FROM edges
       |  UNION
       |  SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
       |comp AS (SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY doc_id)""".stripMargin

  /** Connected components over the minhash pairs via recursive CTE:
    * keep_id = min reachable doc over the symmetrized edge closure. */
  val dedupKeepSql: String =
    s"""WITH RECURSIVE $charShingleCte,
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |          / len(list_distinct(a.s || b.s)), 4) AS jaccard
       |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
       |  WHERE jaccard >= 0.5),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM p
       |  UNION ALL SELECT id_b, id_a FROM p),
       |reach AS (
       |  SELECT src AS doc_id, src AS r FROM edges
       |  UNION
       |  SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
       |comp AS (SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(c.keep_id, d.doc_id) AS keep_id,
       |  d.doc_id != coalesce(c.keep_id, d.doc_id) AS is_dup
       |FROM documents d LEFT JOIN comp c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Dedup candidate-quality evaluation (measure, don't guess)
  // -------------------------------------------------------------------------

  /**
   * Dedup candidate-quality evaluation — the ann_recall_eval
   * discipline applied to near-dup detection: how well does the CHEAP
   * signal (simhash hamming ≤ 3 — 8 bytes/doc, zero-shuffle banding)
   * predict the EXPENSIVE truth (exact word-bigram Jaccard ≥ 0.4, the
   * [[dedupJaccard]] contract) on this corpus? Output: one row —
   * truth-pair count, candidate-pair count, their intersection, and
   * precision/recall — the dashboard numbers a pipeline owner reads
   * before trusting a cheap pre-filter at 100 TB (a recall miss here
   * is silent training-data duplication downstream).
   *
   * Scale: composes two already-scale-audited pipelines
   * ([[dedupSimhash]]: banded signatures; [[dedupJaccard]]: PPJoin /
   * bitmap candidates + exact verify), then ONE pair-grain join
   * (frames bounded by near-dup density, not corpus²) into a 1-row
   * aggregate. Oracle: both pipelines' transcriptions composed as
   * CTEs, including the eval arithmetic — every stage already gated,
   * so the composition hash-matches.
   */
  def dedupEval(s: SparkSession, dir: String): DataFrame = {
    val cand = simhashPairsMemo(s, dir)
      .select(col("id_a"), col("id_b"), lit(1L).as("c"))
    val truth = jaccardPairsMemo(s, dir)
      .select(col("id_a"), col("id_b"), lit(1L).as("tt"))
    cand.join(truth, Seq("id_a", "id_b"), "full_outer")
      .agg(
        // sum over an EMPTY pair frame is NULL; the oracle's count(*) is 0
        coalesce(sum(when(col("tt").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_truth"),
        coalesce(sum(when(col("c").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_cand"),
        coalesce(sum(when(col("c").isNotNull && col("tt").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        // empty candidate/truth sets -> NULL, not an ANSI crash
        when(col("n_cand") > 0,
          round(col("n_hit").cast("double") / col("n_cand"), 4))
          .as("precision"),
        when(col("n_truth") > 0,
          round(col("n_hit").cast("double") / col("n_truth"), 4))
          .as("recall"))
  }

  /** Both pipelines' gate-proven transcriptions composed, plus the
    * same guarded ratio arithmetic. */
  lazy val dedupEvalSql: String =
    s"""WITH $simhashSigCtes,
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
       |$wordBigramCte,
       |truth AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
       |  WHERE ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |              / len(list_distinct(a.s || b.s)), 4) >= 0.4),
       |m AS (
       |  SELECT
       |    (SELECT count(*) FROM truth) AS n_truth,
       |    (SELECT count(*) FROM cand) AS n_cand,
       |    (SELECT count(*) FROM cand JOIN truth USING (id_a, id_b)) AS n_hit)
       |SELECT CAST(n_truth AS BIGINT) AS n_truth,
       |  CAST(n_cand AS BIGINT) AS n_cand, CAST(n_hit AS BIGINT) AS n_hit,
       |  CASE WHEN n_cand > 0
       |    THEN ROUND(CAST(n_hit AS DOUBLE) / n_cand, 4) END AS precision,
       |  CASE WHEN n_truth > 0
       |    THEN ROUND(CAST(n_hit AS DOUBLE) / n_truth, 4) END AS recall
       |FROM m""".stripMargin

  // ---------------------------------------------------------------------
  // Edit-distance near-dup (PassJoin segment pigeonhole, exact)
  // ---------------------------------------------------------------------

  /** The dedup_edit comparison key: strip non-ASCII code points (Java
    * deletes both surrogate halves, RE2 deletes the code point — the
    * RESULT is identical, unlike any replacement char), lower the pure
    * ASCII remainder (trivially engine-identical), truncate to 64
    * chars. The strip runs on a 320-char prefix so per-row regex work
    * is BOUNDED — a multi-MB document costs the same as a tweet.
    * Levenshtein is char-based in Spark but BYTE-based in
    * DuckDB; on this projection they coincide, and the operator's
    * semantics ("edit distance of the ASCII skeleton prefix") are the
    * same in both engines at any corpus language mix. */
  private[graft] def editKey(text: Column): Column =
    substring(lower(regexp_replace(substring(text, 1, 320),
      "[^\\x20-\\x7e]", "")), 1, 64)

  /**
   * Edit-distance near-dup join (r10): all pairs with
   * levenshtein(key_a, key_b) ≤ k over [[editKey]] — the typo/OCR/small-
   * edit duplicate class that token-set Jaccard structurally misses
   * (one transposition inside every token leaves ZERO shared bigrams
   * but edit distance 2).
   *
   * Candidate generation is the PassJoin segment pigeonhole (Li, Deng,
   * Feng — PASS-JOIN, VLDB 2011): each indexed key of length m splits
   * into k+1 contiguous segments (even split, remainder spread over the
   * tail); if ed(A,B) ≤ k, B must contain SOME segment of A verbatim,
   * at a start within ±k of its position in A, and |m−n| ≤ k. The
   * probe side therefore emits, per key of length n, the substrings at
   * every (target length m ∈ [n−k, n+k], segment i, start ∈ window) —
   * a CONSTANT ≤ (2k+1)²·(k+1) rows per doc — and candidates are an
   * equi-join on (m, segment, piece): COMPLETE for ed ≤ k, no bands, no
   * probabilistic misses. Verification is one codegen'd
   * `levenshtein(a, b, k)` (the early-exit threshold form) per
   * candidate pair.
   *
   * Scale shape: IDENTICAL keys collapse to one representative before
   * any pairing (the dedup_minhash fingerprint-collapse discipline), so
   * the PassJoin candidate buckets are bounded by DISTINCT-key
   * clusters — a 10⁶-copy boilerplate flood contributes ONE rep to the
   * segment join, and its distance-0 pairs come back from a key-grain
   * self-join whose size is the OUTPUT's own size (the
   * dedup_containment output-bound class). Only ≤ 17-char pieces + ids
   * shuffle; the join key (m, seg, piece) is position- and
   * length-anchored. Zero-length segments (keys shorter than k+1
   * chars) degrade to length-bucket pairing — bounded by the tiny-doc
   * count, spec-pinned.
   */
  /** The k+1 segments of each key's own split scheme →
    * (a_id, m, seg, apos, piece). Input needs (doc_id, key, m). */
  private[graft] def editSegs(base: DataFrame, k: Int): DataFrame = {
    val kk = k + 1
    base.select(col("doc_id").as("a_id"), col("key").as("a_key"),
        col("m"),
        explode(expr(
          s"""transform(sequence(0, $k), i -> struct(
             |  i AS seg,
             |  i * (m div $kk) + greatest(i - ($kk - m % $kk), 0) AS pos,
             |  (m div $kk) + (CASE WHEN i >= $kk - m % $kk THEN 1 ELSE 0 END) AS len))
             |""".stripMargin)).as("sg"))
      .select(col("a_id"), col("m"), col("sg.seg").as("seg"),
        col("sg.pos").as("apos"),
        expr("substring(a_key, sg.pos + 1, sg.len)").as("piece"))
  }

  /** Probe substrings at every (target length, segment, start window)
    * the PassJoin lemma admits → (b_id, m, seg, bpos, piece). Built as
    * two CHAINED generators with plain column arithmetic between them —
    * the original nested-transform HOF was CodegenFallback and
    * dominated the sf1.0 wall clock (≈11 s of interpreted lambdas for
    * 7.3 M rows; the repo's r2 codegen lesson, relearned). `lengths`
    * is the INDEXED side's observed key-length set (≤ 65 values, a
    * bounded driver collect): probe targets that exist nowhere are
    * pruned before the position explode — on a fixed-width corpus
    * that alone drops 6/7 of the probe rows. Empty windows collapse
    * via the lo <= hi filter (Spark's sequence(a, b) would DESCEND).
    * Input needs (doc_id, key, m). */
  private[graft] def editProbes(base: DataFrame, k: Int,
      lengths: Seq[Int]): DataFrame = {
    val kk = k + 1
    val combos = typedLit(for (dm <- -k to k; i <- 0 to k) yield (dm, i))
    base.select(col("doc_id").as("b_id"), col("key").as("b_key"),
        col("m").as("n"))
      .select(col("b_id"), col("b_key"), col("n"),
        explode(combos).as("c"))
      .select(col("b_id"), col("b_key"), col("n"),
        (col("n") + col("c._1")).as("m"), col("c._2").as("seg"))
      .filter(col("m").isin(lengths: _*))
      .withColumn("q", expr(s"m div $kk"))
      .withColumn("r", expr(s"m % $kk"))
      .withColumn("li", col("q") +
        when(col("seg") >= lit(kk) - col("r"), 1).otherwise(0))
      .withColumn("pi", col("seg") * col("q") +
        greatest(col("seg") - (lit(kk) - col("r")), lit(0)))
      .withColumn("lo", greatest(col("pi") - k, lit(0)))
      .withColumn("hi", least(col("pi") + k, col("n") - col("li")))
      .filter(col("lo") <= col("hi"))
      .select(col("b_id"), col("m"), col("seg"), col("li"), col("b_key"),
        explode(expr("sequence(lo, hi)")).as("bpos"))
      .select(col("b_id"), col("m"), col("seg"), col("bpos"),
        expr("substring(b_key, bpos + 1, li)").as("piece"))
  }

  /** The indexed side's distinct key lengths — at most 65 values (the
    * key is ≤ 64 chars), so the collect is bounded by construction. */
  private[graft] def editLengths(base: DataFrame): Seq[Int] =
    base.select(col("m")).distinct().collect().map(_.getInt(0)).toSeq

  private val editDocsCache = new graft.operators.CacheSlot
  /** dedup_edit's observed key-length set, memoized per (session,
    * corpus plan) — a bounded (≤ 65 values) but full-pass collect. */
  private val editLengthsMemo =
    new graft.operators.SessionMemo[Seq[Int]](max = 32)

  def dedupEdit(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    require(k >= 1 && k <= 8, s"dedup_edit supports 1 <= k <= 8, got $k")
    // the (doc_id, key) frame is CacheSlot-persisted (r13): keys are
    // ≤ 64 chars by construction — bounded state, never corpus text —
    // and the plan consumed the editKey regex projection five times
    // (collapse, length collect, two cross-expansion joins, within-join)
    val docs = editDocsCache.cache(t(s, dir, "documents")
      .select(col("doc_id"), editKey(col("text")).as("key")))
    // identical-key collapse: reps carry DISTINCT keys (so rep-pair
    // distances are >= 1); members expand back at output grain
    val base = docs.groupBy(col("key")).agg(min(col("doc_id")).as("doc_id"))
      .withColumn("m", length(col("key")))
    val segs = editSegs(base, k)
    val lengthsKey = Seq(graft.operators.SessionMemo.sessionKey(s),
      docs.queryExecution.analyzed.semanticHash()).mkString("|")
    val probes = editProbes(base, k,
      editLengthsMemo.getOrElseUpdate(lengthsKey, editLengths(base)))
    val cand = segs.join(probes, Seq("m", "seg", "piece"))
      .filter(col("a_id") =!= col("b_id") &&
        abs(col("apos") - col("bpos")) <= k)
      .select(least(col("a_id"), col("b_id")).as("ra"),
        greatest(col("a_id"), col("b_id")).as("rb"))
      .distinct()
    val keys = base.select(col("doc_id"), col("key"))
    // verify on REP pairs only — O(distinct-key candidates)
    val repPairs = cand
      .join(keys.select(col("doc_id").as("ra"), col("key").as("ka")), "ra")
      .join(keys.select(col("doc_id").as("rb"), col("key").as("kb")), "rb")
      .select(col("ka"), col("kb"),
        levenshtein(col("ka"), col("kb"), k).cast("long").as("dist"))
      .filter(col("dist") >= 1 && col("dist") <= k)
    // expand back to doc grain: cross-group pairs inherit the rep
    // distance (each doc has exactly one key); within-group pairs are
    // distance 0 by construction — both joins are output-bound
    val cross = repPairs
      .join(docs.select(col("key").as("ka"), col("doc_id").as("da")), "ka")
      .join(docs.select(col("key").as("kb"), col("doc_id").as("db")), "kb")
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("dist"))
    val within = docs.select(col("key"), col("doc_id").as("da"))
      .join(docs.select(col("key"), col("doc_id").as("db")), "key")
      .filter(col("da") < col("db"))
      .select(col("da").as("id_a"), col("db").as("id_b"),
        lit(0L).as("dist"))
    cross.unionByName(within).orderBy(col("id_a"), col("id_b"))
  }

  /** Brute-force oracle: every pair, byte-Levenshtein on the identical
    * ASCII-projection keys (on which byte = char), threshold k = 3. The
    * Spark side only ever COMPUTES distances for PassJoin candidates —
    * a hash match therefore proves the pigeonhole candidate set missed
    * no qualifying pair on the gate corpus. */
  val dedupEditSql: String =
    """WITH kd AS (
      |  SELECT doc_id,
      |    substr(lower(regexp_replace(substr(text, 1, 320),
      |                            '[^\x20-\x7e]', '', 'g')),
      |           1, 64) AS key
      |  FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
      |FROM kd a JOIN kd b ON a.doc_id < b.doc_id
      |WHERE levenshtein(a.key, b.key) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /**
   * Incremental edit-distance probe (r10 continuation) — [[dedupEdit]]
   * as a batch-vs-corpus PROBE, the daily-ingest shape the exact/near/
   * vector incremental trio already has: each incoming doc gets its
   * BEST corpus match at levenshtein ≤ k (min distance, then min
   * corpus doc_id) or null. The corpus side contributes SEGMENTS of
   * its collapsed distinct keys (one linear map — at production scale
   * this frame is the persisted artifact, the DedupIndex discipline);
   * the batch side contributes the constant-per-doc probe substrings;
   * candidates are the one-directional segment equi-join
   * (incoming×existing only — never existing×existing, the corpus is
   * already clean), verified per DISTINCT key pair. Best-pick resolves
   * at key grain (min over per-key corpus minima ≡ global min), so
   * exact-dup floods on either side never expand.
   */
  def dedupEditIncremental(existing: DataFrame, incoming: DataFrame,
      k: Int = 3): DataFrame = {
    val ex = existing.select(col("doc_id"), editKey(col("text")).as("key"))
      .groupBy(col("key")).agg(min(col("doc_id")).as("doc_id"))
      .withColumn("m", length(col("key")))
    editProbeCore(ex, incoming, k)
  }

  /** The probe pipeline against an ALREADY-KEYED corpus frame
    * (doc_id, key, m) — shared by the inline form above and the
    * persisted [[graft.index.EditIndex]] (which reads that frame from
    * its manifest-committed generations). Duplicate corpus keys across
    * index generations are tolerated: the best-pick min(dist, id)
    * resolves them deterministically. */
  private[graft] def editProbeCore(ex: DataFrame, incoming: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 8, s"dedup_edit supports 1 <= k <= 8, got $k")
    val inc = incoming.select(col("doc_id"), editKey(col("text")).as("key"))
    val incKeys = inc.groupBy(col("key"))
      .agg(min(col("doc_id")).as("doc_id"))
      .withColumn("m", length(col("key")))
    val cand = editSegs(ex, k)
      .join(editProbes(incKeys, k, editLengths(ex)), Seq("m", "seg", "piece"))
      .filter(abs(col("apos") - col("bpos")) <= k)
      .select(col("a_id"), col("b_id")).distinct()
    val exKeyed = ex.select(col("doc_id").as("a_id"), col("key").as("ka"))
    val incKeyed = incKeys.select(col("doc_id").as("b_id"),
      col("key").as("kb"))
    val best = cand.join(exKeyed, "a_id").join(incKeyed, "b_id")
      .select(col("kb"), col("a_id"),
        levenshtein(col("ka"), col("kb"), k).cast("long").as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= k)
      .groupBy(col("kb"))
      .agg(min(struct(col("dist"), col("a_id"))).as("pick"))
      .select(col("kb").as("key"), col("pick.a_id").as("match_id"),
        col("pick.dist").as("dist"))
    inc.join(best, Seq("key"), "left")
      .select(col("doc_id"), col("match_id"), col("dist"),
        col("match_id").isNull.as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Registered shape: even doc_ids play the clean corpus, odd the
    * batch (the dedup_incremental convention). */
  private val editIdxCache =
    new graft.operators.SessionMemo[graft.index.EditIndex]()

  def dedupEditIncrementalQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // index-backed (the dedup_near_incremental treatment): the corpus
    // half persists as an EditIndex built once per (session, dir) —
    // bench reports the build under "setup"; the probe reads only the
    // skinny persisted key table, never the corpus text
    val idx = editIdxCache.getOrElseUpdate(
      s"${graft.operators.SessionMemo.sessionKey(s)}#$dir",
      graft.index.EditIndex.buildOrLoad(
        docs.filter(col("doc_id") % 2 === 0),
        s"/tmp/graft-editidx-v1/${AnnQueries.digestOf(dir)}"))
    idx.probe(docs.filter(col("doc_id") % 2 === 1))
  }

  /** Brute-force per-incoming best pick over the same keys — min
    * (dist, corpus id), QUALIFY row 1. */
  val dedupEditIncrementalSql: String =
    """WITH kd AS (
      |  SELECT doc_id,
      |    substr(lower(regexp_replace(substr(text, 1, 320),
      |                            '[^\x20-\x7e]', '', 'g')),
      |           1, 64) AS key
      |  FROM documents),
      |inc AS (SELECT * FROM kd WHERE doc_id % 2 = 1),
      |ex AS (SELECT * FROM kd WHERE doc_id % 2 = 0),
      |m AS (
      |  SELECT i.doc_id, e.doc_id AS src,
      |    levenshtein(i.key, e.key) AS d
      |  FROM inc i JOIN ex e ON levenshtein(i.key, e.key) <= 3
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY i.doc_id
      |                             ORDER BY d, src) = 1)
      |SELECT i.doc_id, m.src AS match_id, CAST(m.d AS BIGINT) AS dist,
      |  m.src IS NULL AS keep
      |FROM inc i LEFT JOIN m USING (doc_id)
      |ORDER BY i.doc_id""".stripMargin
}
