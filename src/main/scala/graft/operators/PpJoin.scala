package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge

import graft.functions.{LongPairSet, PairSetContains}

/**
 * Exact set-similarity candidate generation — the AllPairs/PPJoin
 * prefix filter (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07;
 * Xiao et al. WWW'08) re-expressed so that the ENTIRE posting
 * construction is map-side and the only exchange is the posting
 * equi-join itself.
 *
 * Guarantee: for any global total order over set elements, two sets
 * with Jaccard ≥ τ must share an element within their frequency-order
 * PREFIXES (each set's first `n − ⌈τ·n⌉ + 1` elements). The posting
 * join over prefixes is therefore a COMPLETE candidate set — the
 * property no probabilistic LSH banding can give, and the reason this
 * operator backs the hash-oracled dedup family (a missed J ≥ τ pair is
 * a broken oracle, not a recall statistic).
 *
 * What is deliberately DIFFERENT from the textbook formulation, and
 * why (the r6 verdict's #1 item — the naive formulation shuffled raw
 * shingle strings through a corpus-wide frequency join plus a per-doc
 * rank window and regressed the dedup family ~30×):
 *
 *  - **Elements are 64-bit xxhash fingerprints**, hashed inside the
 *    row that owns the set. A hash collision merges two elements,
 *    which can only RAISE a pair's Jaccard (intersection gains, union
 *    shrinks — checked case-by-case in PpJoinSpec), so candidates on
 *    hashed sets are a superset of candidates on raw sets and the
 *    exact verify (on raw sets) keeps the output sound. Postings are
 *    ~24 B rows; text never shuffles.
 *  - **The global order is `(isHot, el)`**, not exact ascending corpus
 *    frequency. ANY fixed total order preserves completeness; exact
 *    frequency order is only a join-cost heuristic — but it costs a
 *    corpus-sized aggregation, a corpus-sized join, and a per-doc rank
 *    window (three exchanges of every element instance). Instead a
 *    bounded DRIVER-SIDE SAMPLE ([[hotSet]]) identifies the
 *    high-frequency elements (the only ones whose posting lists can
 *    blow up the join), and the order pushes exactly those to the END
 *    — past every prefix, where frequency order would have put them.
 *    Cold elements order by their (uniform) hash. Sorting, prefix
 *    extraction (`array_sort` + `slice`) and rank assignment all
 *    happen ARRAY-SIDE in one projection: zero shuffle. The projection
 *    is not all codegen'd: `array_sort` over the `struct(h, el)`
 *    elements compares through an interpreted comparator (a JFR
 *    profile of an index build shows `ArraySort.comparator` and
 *    `InterpretedOrdering.compare`), so the sort costs more per
 *    element than the hashing around it.
 *  - **τ is carried in exact micro-units** (`tm = ⌊τ·10⁶⌋`): prefix
 *    length and both join filters use pure long arithmetic, so float
 *    rounding can never shorten a prefix (the silent-incompleteness
 *    failure: `ceil(0.4 * 5)` is 3 in doubles, and a one-short prefix
 *    drops real pairs). `tm ≤ τ·10⁶` means the effective threshold
 *    τ' = tm/10⁶ ≤ τ — candidates only widen.
 *  - **PPJoin length + positional filters** ride the join condition
 *    (codegen'd long compares, division-free):
 *    length — `tm·max(nx,ny) ≤ 10⁶·min(nx,ny)` (any J ≥ τ pair
 *    satisfies it, since ny ≥ o ≥ τ/(1+τ)(nx+ny) ⇒ ny ≥ τ·nx);
 *    positional — `(min(nx−rkx, ny−rky) + 1)·(10⁶+tm) ≥ tm·(nx+ny)`,
 *    the remaining-overlap upper bound against the required overlap
 *    α = ⌈τ/(1+τ)·(nx+ny)⌉. The FIRST common element of a qualifying
 *    pair sits inside both prefixes and passes both filters (PpJoinSpec
 *    proves completeness against a brute-force oracle), so filtering
 *    every other shared-element row is pure pruning.
 *
 * Scale ledger (per document with n distinct elements): one exchange of
 * ≈ (1−τ)·n posting rows of (el 8 B, id 8 B, rk 4 B, n 4 B) — written
 * once and read by both sides of the self-join (ReusedExchange) — plus
 * the candidate-pair output. Nothing else moves.
 */
object PpJoin {

  /** τ in exact micro-units, floored so the effective threshold can
    * only be ≤ the requested one (candidates widen, never narrow). */
  def tauMicros(tau: Double): Long = math.floor(tau * 1e6).toLong

  /** Distinct 64-bit element fingerprints of an array column —
    * computed inside the owning row. */
  def hashedEls(set: Column): Column =
    array_distinct(transform(set, e => xxhash64(e)))

  private def inSet(e: Column, set: LongPairSet): Column =
    GraftSqlBridge.column(PairSetContains(
      GraftSqlBridge.expression(e), GraftSqlBridge.expression(e), set))

  /**
   * The frozen hot-element set: a bounded, deterministic sample of
   * `sampleDocs` rows is collected driver-side (≤ a few MB of hashed
   * arrays — the bounded-driver-collect discipline of linesDedup's
   * dictionary), elements appearing in ≥ `minFrac` of sampled docs
   * enter the set, capped at `maxHot` by descending sample frequency.
   *
   * Correctness does NOT depend on this set — any set yields a valid
   * total order — only join cost does: a missed hot element means a
   * longer posting list, a spurious one means a slightly longer
   * effective prefix. That insensitivity is what makes the order
   * APPEND-STABLE: an incremental index freezes the set at build time
   * ([[graft.index.DedupIndex]] persists it) and every later batch
   * sorts by the same order, so stored postings stay valid as the
   * corpus-wide frequencies drift.
   */
  def hotSet(docs: DataFrame, setCol: String, sampleDocs: Int = 2048,
      minFrac: Double = 0.02, maxHot: Int = 1 << 16): LongPairSet = {
    val rows = docs.select(hashedEls(col(setCol)).as("els"))
      .limit(sampleDocs).collect()
    val counts = new java.util.HashMap[Long, Integer]
    rows.foreach { r =>
      if (!r.isNullAt(0)) r.getSeq[Long](0).foreach { e =>
        counts.merge(e, 1, (a, b) => a + b)
      }
    }
    val minDf = math.max(2, math.ceil(minFrac * rows.length).toInt)
    val hot = new java.util.ArrayList[(Long, Int)]
    counts.forEach((k, v) => if (v >= minDf) hot.add((k, v.intValue)))
    val picked = hot.toArray(new Array[(Long, Int)](0))
      .sortBy { case (el, df) => (-df, el) }.take(maxHot)
    val set = LongPairSet(math.max(picked.length, 1))
    picked.foreach { case (el, _) => set.add(el, el) }
    set
  }

  /** `n − ⌈τ·n⌉ + 1` in exact long arithmetic (n as a long column).
    * `div`, never `/`: long `/` is DOUBLE division in Spark, exact
    * only while tm·n stays well under 2⁵³ — `div` keeps the ceil
    * genuinely integral at any set size. */
  private def prefixLen(n: Column, tm: Long): Column =
    n - call_function("div", lit(tm) * n + lit(999999L), lit(1000000L)) + 1

  /**
   * Prefix postings `(el, pid, rk, n)` for every row of `docs` whose
   * `idCol` is NOT in `exclude` and whose set is nonempty — one
   * codegen'd projection (hash → hot-aware sort → slice → posexplode),
   * zero shuffle. `exclude` carries the non-representative ids so a
   * duplicate-heavy corpus doesn't emit one posting vector per copy
   * (the caller's collapse already proved them redundant).
   */
  def postingsById(docs: DataFrame, idCol: String, setCol: String,
      tm: Long, hot: LongPairSet, exclude: Option[LongPairSet]): DataFrame = {
    val keyed = array_sort(transform(hashedEls(col(setCol)),
      e => struct(when(inSet(e, hot), 1).otherwise(0).as("h"), e.as("el"))))
    val base = docs.select(col(idCol).as("pid"), keyed.as("k"))
      .filter(size(col("k")) > 0)
    val kept = exclude match {
      case Some(set) => base.filter(!GraftSqlBridge.column(PairSetContains(
        GraftSqlBridge.expression(col("pid")),
        GraftSqlBridge.expression(col("pid")), set)))
      case None => base
    }
    kept
      .select(col("pid"), size(col("k")).cast("long").as("n"), col("k"))
      .select(col("pid"), col("n").cast("int").as("n"),
        posexplode(slice(col("k"), lit(1),
          prefixLen(col("n"), tm).cast("int"))))
      .select(col("col.el").as("el"), col("pid"),
        (col("pos") + 1).cast("int").as("rk"), col("n"))
  }

  /**
   * Fallback posting frame for a corpus too duplicated for a
   * driver-side non-rep set (the linesDedup `dictCap` two-regime
   * pattern): the posting id is the 128-bit SET fingerprint, emitted
   * for every copy and collapsed by a partial-aggregated
   * `groupBy(el, fp)` — a 10⁸-copy boilerplate cluster shrinks to one
   * row per (element, partition) before its postings ever move. Costs
   * a second exchange (the join re-keys by `el` alone), which is why
   * it is the fallback, not the default.
   */
  def postingsByFp(docs: DataFrame, fpCols: (String, String), setCol: String,
      tm: Long, hot: LongPairSet): DataFrame = {
    val keyed = array_sort(transform(hashedEls(col(setCol)),
      e => struct(when(inSet(e, hot), 1).otherwise(0).as("h"), e.as("el"))))
    docs.select(col(fpCols._1).as("fp1"), col(fpCols._2).as("fp2"), keyed.as("k"))
      .filter(size(col("k")) > 0)
      .select(col("fp1"), col("fp2"), size(col("k")).cast("int").as("n"), col("k"))
      .select(col("fp1"), col("fp2"), col("n"),
        posexplode(slice(col("k"), lit(1),
          prefixLen(col("n").cast("long"), tm).cast("int"))))
      .select(col("col.el").as("el"), col("fp1"), col("fp2"),
        (col("pos") + 1).cast("int").as("rk"), col("n"))
      .groupBy(col("el"), col("fp1"), col("fp2"))
      .agg(first(col("rk")).as("rk"), first(col("n")).as("n"))
  }

  /** The prefix-element column of a doc frame under the engine's own
    * (isHot, el) order — the shared subtree of the posting builders and
    * the mass meters (`tm = 0` keeps ALL elements: full postings). */
  private[graft] def prefixEls(setCol: String, tm: Long, hot: LongPairSet): Column = {
    val keyed = array_sort(transform(hashedEls(col(setCol)),
      e => struct(when(inSet(e, hot), 1).otherwise(0).as("h"), e.as("el"))))
    val n = size(keyed).cast("long")
    val len = if (tm <= 0) n else prefixLen(n, tm)
    transform(slice(keyed, lit(1), len.cast("int")), s => s.getField("el"))
  }

  /**
   * Estimated candidate-visit mass of the SYMMETRIC prefix-posting
   * self-join over this corpus (r13 — the router's sparse-side meter,
   * the twin of [[DenseJaccard.prefixMassEstimate]]): with `c(el)` =
   * number of prefix postings of `el`, the posting join materializes
   * ~Σ c(el)² pairs before its filters, so visits per row ≈ Σc²/N.
   * One distributed pass: prefix projection (map-side, the engine's own
   * order) → partial-aggregated groupBy(el) → one scalar agg. Per-el
   * contribution is capped at c·N (a posting list can never beat
   * all-pairs — mirrors the dense meter's row cap). Returns
   * `(nDocs, totalMass)`.
   */
  def selfJoinMassEstimate(docs: DataFrame, setCol: String, tm: Long,
      hot: LongPairSet): (Long, Long) = {
    val pfx = docs.select(prefixEls(setCol, tm, hot).as("p"))
      .filter(size(col("p")) > 0)
    val nDocs = pfx.count()
    if (nDocs == 0) return (0L, 0L)
    val mass = pfx.select(explode(col("p")).as("el"))
      .groupBy(col("el")).agg(count(lit(1)).as("c"))
      .agg(sum(least(col("c") * col("c"), col("c") * lit(nDocs))).as("m"))
      .collect()(0).getLong(0)
    (nDocs, mass)
  }

  /**
   * Estimated candidate-visit mass of the DIRECTED containment posting
   * join (contained τ-prefixes × container FULL postings): with
   * `p(el)` prefix postings and `f(el)` full postings,
   * mass = Σ p(el)·f(el). One pass: full projection with a per-element
   * in-prefix flag → groupBy(el) → scalar agg, same per-el all-pairs
   * cap as [[selfJoinMassEstimate]].
   */
  def containMassEstimate(docs: DataFrame, setCol: String, tm: Long,
      hot: LongPairSet): (Long, Long) = {
    val keyed = prefixEls(setCol, 0L, hot) // full, engine order
    val base = docs.select(keyed.as("k")).filter(size(col("k")) > 0)
    val nDocs = base.count()
    if (nDocs == 0) return (0L, 0L)
    val flagged = base.select(size(col("k")).cast("long").as("n"),
        posexplode(col("k")).as(Seq("pos", "el")))
      .select(col("el"),
        (col("pos") < prefixLen(col("n"), tm)).cast("long").as("inPfx"))
    val mass = flagged
      .groupBy(col("el"))
      .agg(count(lit(1)).as("f"), sum(col("inPfx")).as("p"))
      .agg(sum(least(col("p") * col("f"), col("p") * lit(nDocs))).as("m"))
      .collect()(0).getLong(0)
    (nDocs, mass)
  }

  /** PPJoin length + positional filters over two posting aliases —
    * division-free long arithmetic (see object doc). */
  private def pairFilters(tm: Long, x: String, y: String): Column = {
    val nx = col(s"$x.n").cast("long"); val ny = col(s"$y.n").cast("long")
    val rkx = col(s"$x.rk").cast("long"); val rky = col(s"$y.rk").cast("long")
    val lenOk = lit(tm) * greatest(nx, ny) <= lit(1000000L) * least(nx, ny)
    val ub = least(nx - rkx, ny - rky) + lit(1L)
    val posOk = ub * lit(1000000L + tm) >= lit(tm) * (nx + ny)
    lenOk && posOk
  }

  /** Complete candidate id pairs `(id_a < id_b)` from one posting
    * frame — the self-join's two sides are the same subtree, so the
    * posting exchange is written once and reused. */
  def selfPairs(post: DataFrame, tm: Long): DataFrame =
    post.as("x").join(post.as("y"),
        col("x.el") === col("y.el") && col("x.pid") < col("y.pid") &&
          pairFilters(tm, "x", "y"))
      .select(col("x.pid").as("id_a"), col("y.pid").as("id_b"))
      .distinct()

  /** [[pairFilters]] for one pair of postings, on the JVM. */
  private def pairOk(tm: Long, nx: Long, rkx: Long, ny: Long, rky: Long): Boolean =
    tm * math.max(nx, ny) <= 1000000L * math.min(nx, ny) &&
      (math.min(nx - rkx, ny - rky) + 1L) * (1000000L + tm) >= tm * (nx + ny)

  /** Complete candidate pairs `(in_rep, ex_rep)` of a driver-held probe
    * batch against a stored posting table (no id ordering — the sides
    * are distinct corpora). `probe` holds each batch set's `(pid, n,
    * prefix elements in engine order)`. Its postings ride the task
    * closure as element-sorted arrays, so the stored table streams
    * through one map-only pass: the scan's filter drops every posting
    * whose element no batch prefix holds, and the rest meet their batch
    * postings by binary search under the same length and positional
    * filters as [[selfPairs]]. No broadcast and no exchange, so the
    * pairs cost no job of their own. A pair is emitted once per
    * partition; it can repeat across partitions. */
  def crossPairs(probe: Seq[(Long, Int, Array[Long])], index: DataFrame,
      tm: Long): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val post = probe.flatMap { case (pid, n, pfx) =>
      pfx.indices.map(i => (pfx(i), pid, i + 1, n)) }.sortBy(_._1).toArray
    val els = post.map(_._1)
    val (pids, rks, ns) = (post.map(_._2), post.map(_._3), post.map(_._4))
    val elSet = LongPairSet(math.max(els.length, 1))
    els.foreach(e => elSet.add(e, e))
    index.filter(inSet(col("el"), elSet))
      .select(col("el"), col("pid"), col("rk"), col("n"))
      .as[(Long, Long, Int, Int)]
      .mapPartitions { it =>
        val seen = new java.util.HashSet[(Long, Long)]
        it.flatMap { case (el, ex, rky, ny) =>
          var i = math.max(java.util.Arrays.binarySearch(els, el), 0)
          while (i > 0 && els(i - 1) == el) i -= 1
          val out = Seq.newBuilder[(Long, Long)]
          while (i < els.length && els(i) == el) {
            if (pairOk(tm, ns(i), rks(i), ny, rky) && seen.add((pids(i), ex)))
              out += ((pids(i), ex))
            i += 1
          }
          out.result()
        }
      }.toDF("in_rep", "ex_rep")
  }

  /** [[selfPairs]] over the fp-keyed fallback postings: candidate
    * pairs of 128-bit set fingerprints, ordered by (fp1, fp2). */
  def selfPairsFp(post: DataFrame, tm: Long): DataFrame =
    post.as("x").join(post.as("y"),
        col("x.el") === col("y.el") &&
          (col("x.fp1") < col("y.fp1") ||
            (col("x.fp1") === col("y.fp1") && col("x.fp2") < col("y.fp2"))) &&
          pairFilters(tm, "x", "y"))
      .select(col("x.fp1").as("a_fp1"), col("x.fp2").as("a_fp2"),
        col("y.fp1").as("b_fp1"), col("y.fp2").as("b_fp2"))
      .distinct()
  /** Complete DIRECTED containment candidates `(contained pid → container
    * pid)` for `|A∩B| ≥ ⌈τ·|A|⌉`: the contained side carries τ-prefixes
    * (the prefix lemma holds one-sided — an overlap of ⌈τ·na⌉ cannot
    * hide entirely in A's last ⌈τ·na⌉ − 1 positions), while the
    * container side carries FULL postings (build them with `tm = 0` —
    * a superset side admits no prefix pruning without candidate loss;
    * the honest Σ|set| cost of sparse containment, and why the dense
    * bitmap regime is preferred whenever the universe allows). The
    * size filter is the one containment actually implies — `nb ≥
    * overlap ≥ ⌈τ·na⌉` — and the positional filter bounds the
    * remaining overlap against the same requirement. */
  /** [[containPairs]] with a document-frequency cap — the BANDED
    * containment regime for the saturated-sparse corpus (r13): posting
    * rows of elements with container-side df above `dfCap` are dropped
    * from BOTH sides, so the join materializes at most `dfCap`
    * candidates per surviving contained-prefix element instead of
    * Σ p(el)·f(el) over posting lists approaching the corpus (the
    * measured DNF shape, SCALE_r12_regimes.json). RECALL-TRADED, not
    * exact: a true `|A∩B| ≥ τ|A|` pair is missed only when EVERY
    * element of A's τ-prefix that B shares has df > dfCap — i.e. the
    * overlap is carried entirely by near-stopword shingles; the exact
    * verify still decides every emitted pair, so precision is exact.
    * The floor is spec-measured on a planted saturated corpus. */
  def containPairsCapped(contained: DataFrame, container: DataFrame,
      tm: Long, dfCap: Long): DataFrame = {
    val keep = container.groupBy(col("el")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select(col("el"))
    containPairs(
      contained.join(keep, Seq("el"), "left_semi"),
      container.join(keep, Seq("el"), "left_semi"), tm)
  }

  def containPairs(contained: DataFrame, container: DataFrame, tm: Long): DataFrame = {
    val nx = col("x.n").cast("long"); val ny = col("y.n").cast("long")
    val rkx = col("x.rk").cast("long"); val rky = col("y.rk").cast("long")
    val ub = least(nx - rkx, ny - rky) + lit(1L)
    contained.as("x").join(container.as("y"),
        col("x.el") === col("y.el") && col("x.pid") =!= col("y.pid") &&
          lit(tm) * nx <= lit(1000000L) * ny &&
          ub * lit(1000000L) >= lit(tm) * nx)
      .select(col("x.pid").as("id_a"), col("y.pid").as("id_b"))
      .distinct()
  }
}