package graft.index

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The corpus-side artifacts an incremental near-dup probe consumes —
 * what [[DedupIndex]] persists and
 * [[graft.queries.DedupQueries.probeNearIncremental]] executes
 * against. Exactly one of the candidate-generation families is set:
 *  - `postings` (sparse-universe mode): the PPJoin prefix posting
 *    table plus the frozen hot-element order it was sorted under;
 *  - `dense` (dense-universe mode): the rep bitmap table plus the
 *    frozen element dictionary (bit index = array position).
 */
final case class CorpusSketch(
    groups: DataFrame,
    tauMicros: Long,
    postings: Option[(DataFrame, graft.functions.LongPairSet)],
    dense: Option[(DataFrame, Array[Long])])

/**
 * Persisted sketch index for incremental near-dup dedup — the corpus
 * half of [[graft.queries.DedupQueries.dedupNearIncremental]] computed
 * ONCE and reused by every future batch (the CCNet/RefinedWeb daily
 * shape: today's crawl probes the accumulated index).
 *
 * Every generation stores `groups` + `members`, plus ONE
 * candidate-generation family chosen at build time from the measured
 * element universe (committed as `mode=` in the manifest):
 *  - `groups` — one row per DISTINCT shingle set: the 128-bit set
 *    fingerprint, the representative doc_id, the 64-byte packed minhash
 *    signature (~90 B/group);
 *  - `members` — one `(rep, doc_id)` ROW per indexed document (~16 B).
 *    Membership is deliberately a frame, not a `collect_list` array
 *    column: a 10⁸-copy boilerplate cluster would otherwise persist (and
 *    re-load) as one multi-GB row. [[compact]] reads it to re-map
 *    members onto merged reps; a probe never does.
 *  - sparse mode: `postings` — PPJoin prefix postings `(el, pid, rk,
 *    n)` (~24 B × (1−τ)·|set| per rep) ordered by the FROZEN `hot`
 *    element set (≤ 64 Ki longs). `hot` is written into the FIRST
 *    generation only: the build's, or the one a [[compact]] writes,
 *    which copies it. An appended generation holds no `hot` (an index
 *    whose appended generations carry copies, the older layout, reads
 *    the same: readers take the first generation's). A daily batch
 *    computes its own postings under the SAME order and meets this
 *    table in one map-only scan — O(batch) probes, no corpus re-sketch
 *    (the r6 regression this layout exists to prevent).
 *  - dense mode (small element universe, where prefix posting lists
 *    pigeonhole toward corpus size — see
 *    [[graft.operators.DenseJaccard]]): `bitmaps` — `(pid, n, bm)`
 *    packed element bitmaps per rep — and `dict`, the frozen
 *    element→bit dictionary. Appends EXTEND the dictionary (new
 *    elements take new bits; old bitmaps stay valid because old sets
 *    provably lack them), so each generation's dict is a superset of
 *    its predecessors and readers take the LAST live generation's.
 * Shingle sets (≥5× the text bytes) are deliberately NOT stored: the
 * exact verify re-derives them from the source table for just the
 * candidate reps, which is a left_semi-pruned scan, not a corpus pass.
 *
 * **Rep invariant.** A group's `rep` is the minimum doc_id of its
 * members, in every generation: build and append collapse by
 * `min(doc_id)`, and compact keeps `min(rep)` per fingerprint. So
 * `rep <= doc_id` for every member row, every rep is a member of its
 * own group, and the smallest indexed doc_id holding a set is the
 * smallest `rep` over the group rows carrying its fingerprint. The
 * probe's pick rests on this: the best match is a rep, found without
 * expanding members.
 *
 * **Commit protocol.** Every mutation is ALL-OR-NOTHING: the writer
 * materializes a complete generation directory (all tables) and then
 * commits it by creating ONE numbered manifest file
 * (`_log/N.manifest`, written to a temp name and renamed into place)
 * carrying the mode + τ header and every live generation. Readers
 * resolve the highest manifest; a crash at any earlier point leaves
 * only an orphan directory — invisible to readers, swept by the next
 * [[compact]] — never a state where one table reflects a mutation the
 * other doesn't. Generation directories are uniquely named
 * (`gen-N-<nonce>`), so two writers racing to the same sequence number
 * can never write into — let alone clobber — each other's directories:
 * the loser fails at the manifest rename with its data in an orphan
 * dir, keeping the single-writer assumption a performance contract,
 * not a data-safety one. The rename refuses to replace an existing
 * manifest, so a lost race fails loudly.
 *
 * [[append]] adds new documents WITHOUT reading or rewriting existing
 * rows (one new generation; nothing existing moves). It reads only the
 * manifest and the frozen hot set (sparse) or the last dictionary
 * (dense), each once per instance and generation name, then shingles
 * the batch once into one persisted frame keyed by one `min(doc_id)`
 * window over the set fingerprint, and writes every table of the
 * generation from that frame. A set already
 * present then simply has two group rows sharing a fingerprint — the
 * probe handles that (both match; the pick keeps the smaller rep) — so no
 * merge pass is ever forced; [[compact]] merges the generations during
 * a scheduled rewrite when a long-lived index has accumulated enough of
 * them to matter.
 */
final class DedupIndex private (
    val spark: SparkSession, val path: String) extends Serializable {

  private def manifest = DedupIndex.currentManifest(spark, path)

  /** Read one table across a FIXED generation list — every multi-table
    * consumer resolves the manifest ONCE and passes the same list here,
    * so a reader concurrent with an append can never assemble tables
    * from different committed snapshots (the atomicity the commit
    * protocol promises; per-table resolution would race). */
  private def readTables(gens: Seq[String], table: String): DataFrame =
    DedupIndex.readTable(spark, gens.map(g => s"$path/$g/$table"), table)

  /** The persisted sketch groups `(fp1, fp2, rep, sigb, nonempty)` —
    * the union of every live generation (one-shot snapshot). */
  def groups: DataFrame = readTables(manifest._4, "groups")

  /** The persisted membership frame `(rep, doc_id)` — reps are
    * generation-local: an appended batch maps its members to its own
    * representative, and the probe's pick (the smaller rep) reconciles
    * fingerprint-sharing generations. */
  def members: DataFrame = readTables(manifest._4, "members")

  /** `sparse` or `dense` — fixed at build time. */
  def mode: String = manifest._3

  /** τ the stored sparse prefixes were sized for (micro-units) —
    * sparse probes must run at τ ≥ this; dense bitmaps are
    * τ-independent. */
  def tauMicros: Long = manifest._2

  /** The frozen hot-element set (sparse mode), read from the FIRST
    * live generation: the build generation, or the one a [[compact]]
    * wrote, which copies it. */
  def hotSet: graft.functions.LongPairSet =
    hotSetAt(manifest._4)

  // A generation directory is written once, so what it holds never
  // changes under its name: the hot set is read once per first
  // generation, the dictionary once per last generation, and every
  // later probe and append of this instance reuses the copy.
  @transient @volatile private var hotRead: (String, graft.functions.LongPairSet) = _
  @transient @volatile private var dictRead: (String, Array[Long]) = _

  private def hotSetAt(gens: Seq[String]): graft.functions.LongPairSet = {
    val last = hotRead
    if (last != null && last._1 == gens.head) last._2
    else {
      val els = readTables(gens.take(1), "hot").collect()
      val set = graft.functions.LongPairSet(math.max(els.length, 1))
      els.foreach { r => val e = r.getLong(0); set.add(e, e) }
      hotRead = (gens.head, set)
      set
    }
  }

  /** The frozen element dictionary (dense mode) — read from the LAST
    * live generation, whose dict is a superset of all predecessors'. */
  def dictEls: Array[Long] = dictElsAt(manifest._4)

  private def dictElsAt(gens: Seq[String]): Array[Long] = {
    val last = dictRead
    if (last != null && last._1 == gens.last) last._2
    else {
      val els = readTables(gens.takeRight(1), "dict").collect()
        .sortBy(_.getInt(1)).map(_.getLong(0))
      dictRead = (gens.last, els)
      els
    }
  }

  /** The probe-ready sketch (see [[CorpusSketch]]) — ONE manifest
    * resolution covers every table, so the sketch is an atomic
    * snapshot of a single committed state. */
  def sketch(): CorpusSketch = {
    val (_, tm, m, gens) = manifest
    val g = readTables(gens, "groups")
    if (m == "dense")
      CorpusSketch(g, tm, None,
        Some((readTables(gens, "bitmaps"), dictElsAt(gens))))
    else
      CorpusSketch(g, tm,
        Some((readTables(gens, "postings"), hotSetAt(gens))), None)
  }

  /** Number of group rows (= distinct sets, +1 per appended generation
    * that re-introduced an already-indexed set until [[compact]]). */
  def count(): Long = groups.count()

  /** Probe: per incoming doc, the best near-dup match in the indexed
    * corpus (max jaccard ≥ tau, min id) or null. `corpus` is the source
    * table the index was built from — consulted only for candidate
    * verification. The probe runs when this is called: the frozen hot
    * set (sparse) or dictionary (dense) is read unless this instance
    * already holds it, then three Spark actions run (batch rows,
    * candidates, verify — see
    * [[graft.queries.DedupQueries.probeNearIncremental]]), and the
    * result comes back as a local frame, one row per incoming row in
    * doc_id order. The match is always a group rep (the rep
    * invariant above), so `members` is never read. */
  def probe(corpus: DataFrame, incoming: DataFrame, tau: Double = 0.5): DataFrame =
    graft.queries.DedupQueries.probeNearIncremental(
      sketch(), corpus, incoming, tau)

  /** Index additional documents — append-only, nothing existing moves:
    * one new generation directory, committed by one manifest rename.
    * Sparse: the new postings sort under the index's frozen hot set
    * and build τ, interleaving correctly with every generation. Dense:
    * the dictionary extends for genuinely new elements (old bitmaps
    * stay valid); overflow past the dense cap refuses loudly — rebuild
    * the index rather than silently degrade completeness. */
  def append(docs: DataFrame, casRetries: Int = -1): Unit = {
    val retries = GenLog.resolveCasRetries(spark, casRetries)
    var attempt = 0
    var done = false
    while (!done) {
      try {
        appendOnce(docs)
        done = true
      } catch {
        // CAS retry (multi-writer appends): unlike [[CodeLayout]], this
        // generation's CONTENT depends on the manifest snapshot (the
        // dense dict extension / the frozen hot set live at read time),
        // so a rebase must REDO the whole append against the winner's
        // snapshot, not just re-target the manifest line. The loser's
        // first-attempt generation dir becomes a vacuum-reclaimable
        // orphan.
        case _: ManifestRaceLost if attempt < retries =>
          attempt += 1
      }
    }
  }

  private def appendOnce(docs: DataFrame): Unit = {
    val (seq, tm, m, live) = manifest
    val gen = DedupIndex.genName(seq + 1)
    // the hot set stays in the first generation only: readers take it
    // from there, and compact copies it into the generation it writes
    val dict =
      if (m == "dense") Some(DedupIndex.writeDense(path, gen, docs, dictElsAt(live), extend = true))
      else { DedupIndex.writeSparse(path, gen, docs, hotSetAt(live), tm); None }
    DedupIndex.commitManifest(spark, path, seq + 1, tm, m, live :+ gen)
    dict.foreach(d => dictRead = (gen, d))
  }

  /** Merge duplicate-fingerprint generations into one group row each —
    * the scheduled-rewrite half of the append-only story: groups
    * re-aggregate by fingerprint (min rep; identical sets ⇒ identical
    * sigb, so first() is exact), members re-map onto the merged rep via
    * an (old rep → fp → new rep) join, and the candidate tables
    * (postings/bitmaps) remap + dedupe the same way. Probe results are
    * unchanged — the probe's pick was already reconciling
    * generations; compact just stops a long-lived daily index from
    * re-processing the same fingerprint k times. The rewrite lands as
    * one new generation and one manifest commit; generations this flip
    * supersedes are RETAINED until the next compact (a one-cycle grace
    * window — concurrent readers hold lazy frames over the old paths),
    * and only older superseded generations + crash orphans are swept.
    *
    * Precondition (asserted): a rep id maps to ONE fingerprint across
    * generations. `append` is append-only for new doc_ids; re-ingesting
    * a CHANGED document under its old doc_id would give one rep two
    * fingerprints and fan the member remap out — unsupported, and
    * refused here rather than silently duplicating membership. */
  def compact(): Unit = {
    // ONE manifest resolution for the whole rewrite (single snapshot)
    val (seq, tm, mode0, live) = manifest
    val g = readTables(live, "groups").persist()
    val m = readTables(live, "members").persist()
    val merged = g.groupBy(col("fp1"), col("fp2"))
      .agg(min(col("rep")).as("rep"),
        first(col("sigb")).as("sigb"), first(col("nonempty")).as("nonempty"))
    val repMap = g.select(col("rep").as("old_rep"), col("fp1"), col("fp2"))
      .join(merged.select(col("fp1"), col("fp2"), col("rep")), Seq("fp1", "fp2"))
      .select(col("old_rep"), col("rep")).distinct()
    val fanout = repMap.groupBy(col("old_rep")).count()
      .filter(col("count") > 1).limit(1).collect()
    if (fanout.nonEmpty) {
      g.unpersist(false); m.unpersist(false)
      throw new IllegalStateException(
        s"compact: rep ${fanout.head.get(0)} carries multiple fingerprints — " +
          "a doc_id was re-appended with changed text; the index is " +
          "append-only for new doc_ids (re-ingest under a fresh id or rebuild)")
    }
    val remapped = m.select(col("rep").as("old_rep"), col("doc_id"))
      .join(repMap, "old_rep")
      .select(col("rep"), col("doc_id")).distinct()
    val gen = DedupIndex.genName(seq + 1)
    val tables =
      if (mode0 == "dense") {
        // identical sets ⇒ identical bits; widths may differ across
        // generations (dict extension) — first() keeps one, and the
        // AND kernel treats the missing tail as zeros either way
        val bms = readTables(live, "bitmaps")
          .select(col("pid").as("old_rep"), col("n"), col("bm"))
          .join(repMap, "old_rep")
          .groupBy(col("rep")).agg(first(col("n")).as("n"), first(col("bm")).as("bm"))
          .select(col("rep").as("pid"), col("n"), col("bm"))
        Seq("groups" -> merged, "members" -> remapped, "bitmaps" -> bms,
          "dict" -> DedupIndex.dictFrame(spark, dictElsAt(live)))
      } else {
        val post = readTables(live, "postings")
          .select(col("el"), col("pid").as("old_rep"), col("rk"), col("n"))
          .join(repMap, "old_rep")
          .select(col("el"), col("rep").as("pid"), col("rk"), col("n")).distinct()
        Seq("groups" -> merged, "members" -> remapped, "postings" -> post,
          "hot" -> readTables(live.take(1), "hot"))
      }
    DedupIndex.writeGeneration(path, gen, tables)
    g.unpersist(false); m.unpersist(false)
    DedupIndex.commitManifest(spark, path, seq + 1, tm, mode0, Seq(gen))
    // GRACE-WINDOW sweep (r8 — the r7 immediate delete broke readers
    // that overlap a compact: probe/groups/members frames pin paths at
    // snapshot time and read files only at action time, so deleting a
    // just-superseded generation failed their jobs mid-flight). Kept:
    // the new generation AND the snapshot this compact superseded —
    // those directories become deletable only at the NEXT compact, a
    // Delta-VACUUM-style retention of one full compact cycle. Swept
    // now: generations older than the previous snapshot (no reader
    // newer than one cycle can hold them) and pre-commit-crash orphans
    // (never visible to any reader; the index is single-writer, so no
    // in-flight writer owns them).
    // the mtime grace ([[GenLog.sweepGens]]) also keeps a CONCURRENT
    // CAS append's staged-but-uncommitted generation out of this sweep
    // (the r11 ADVICE medium finding applies to compact's sweep too)
    GenLog.sweepGens(spark, path, 2, (live :+ gen).toSet,
      GenLog.DefaultOrphanGraceMs)
  }

  /** Standalone storage reclaim — the [[compact]] grace-window sweep
    * WITHOUT the data rewrite: deletes every `gen-*` directory that no
    * recent manifest references. Lost-race orphans (referenced by NO
    * manifest — the loser of the commit race, DedupIndex scaladoc) go
    * regardless of grace; generations superseded more than
    * `graceManifests` commits ago (a compact whose best-effort sweep
    * died mid-delete) go too. Single-writer-safe: vacuum runs in the
    * one writer, so nothing can commit between the manifest read and
    * the deletes; a reader holding the previous snapshot survives the
    * default one-manifest grace. Returns the directories removed. */
  def vacuum(graceManifests: Int = 1,
      orphanGraceMs: Long = GenLog.DefaultOrphanGraceMs): Seq[String] = {
    GenLog.sweepGens(spark, path, 1 + math.max(0, graceManifests),
      Set.empty, orphanGraceMs)
  }
}

object DedupIndex {

  private[index] def shingled(docs: DataFrame): DataFrame = {
    graft.functions.registerAll(docs.sparkSession)
    docs.select(col("doc_id"),
      graft.queries.DedupQueries.charShingles(col("text"), 5).as("sh"))
  }

  /** `docs` as [[graft.queries.DedupQueries.repFrame]] rows with the
    * candidate column `cand`, persisted: every table of a generation
    * reads this one frame, so the batch is shingled and windowed once.
    * AQE does not coalesce a persisted plan's partitions, and each
    * partition writes one file per table, so the count is the one AQE
    * would pick by default: the input's estimated size over the
    * advisory partition size, at most the shuffle partitions. A small
    * batch then writes one file per table, which every later probe
    * scans. */
  private def sketchFrame(docs: DataFrame, cand: Column): DataFrame = {
    val conf = docs.sparkSession.sessionState.conf
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val advisory = conf.getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val parts = (bytes / advisory + 1).min(conf.numShufflePartitions).toInt
    graft.queries.DedupQueries.repFrame(shingled(docs), "sh", cand, parts).persist()
  }

  /** groups (one row per fingerprint, its rep's) and members (every row). */
  private def baseTables(k: DataFrame): Seq[(String, DataFrame)] = Seq(
    "groups" -> k.filter(col("is_rep"))
      .select(col("fp1"), col("fp2"), col("rep"), col("sigb"), col("nonempty")),
    "members" -> k.select(col("rep"), col("doc_id")))

  /** The rows a group's candidate table is written from: its rep's. */
  private def repRows(k: DataFrame): DataFrame = k.filter(col("is_rep") && col("nonempty"))

  /** Write sparse generation `gen` of `docs`: groups, members, and the
    * reps' prefix postings under the frozen order `hot` and build τ. */
  private def writeSparse(path: String, gen: String, docs: DataFrame,
      hot: graft.functions.LongPairSet, tm: Long): Unit = {
    val k = sketchFrame(docs, graft.operators.PpJoin.prefixEls("sh", tm, hot))
    try writeGeneration(path, gen, baseTables(k) :+ ("postings" -> repRows(k)
      .select(col("rep").as("pid"), col("n"), posexplode(col("cand")))
      .select(col("col").as("el"), col("pid"), (col("pos") + 1).as("rk"), col("n"))))
    finally k.unpersist(false)
  }

  /** Write dense generation `gen` of `docs`: groups, members, and the
    * reps' bitmaps under the dictionary `known`, which `extend` lets the
    * batch's new elements extend (new elements take new bits; old
    * bitmaps stay valid because old sets provably lack them). Returns
    * the dictionary written. Overflow past the dense cap refuses
    * loudly: rebuild the index rather than silently degrade
    * completeness. */
  private def writeDense(path: String, gen: String, docs: DataFrame,
      known: Array[Long], extend: Boolean): Array[Long] = {
    import graft.operators.{DenseJaccard, PpJoin}
    val spark = docs.sparkSession
    val k = sketchFrame(docs, PpJoin.hashedEls(col("sh")))
    try {
      val dict = if (extend) known ++ newElements(k, known) else known
      if (dict.length > DenseJaccard.MaxUniverseBits)
        throw new IllegalStateException(
          s"append grew the element universe to ≥ ${dict.length} — past " +
            s"the dense cap ${DenseJaccard.MaxUniverseBits}; rebuild the " +
            "index (the corpus has outgrown dense mode)")
      writeGeneration(path, gen, baseTables(k) ++ Seq(
        "bitmaps" -> repRows(k).select(col("rep").as("pid"), col("n"),
          DenseJaccard.bitmapCol(col("cand"), DenseJaccard.dictFromEls(dict), dict.length)
            .as("bm")),
        "dict" -> dictFrame(spark, dict)))
      dict
    } finally k.unpersist(false)
  }

  /** The elements of `k`'s sets missing from `known`, ascending. Each
    * task returns at most one more than the dense cap (the tryBuildDict
    * discipline): a batch whose new vocabulary alone overflows the cap
    * refuses loudly at the caller's size check, never OOMs the driver
    * in this collect. */
  private def newElements(k: DataFrame, known: Array[Long]): Array[Long] = {
    val knownSet = graft.functions.LongPairSet(math.max(known.length, 1))
    known.foreach(e => knownSet.add(e, e))
    val cap = graft.operators.DenseJaccard.MaxUniverseBits
    k.filter(col("is_rep")).select(col("cand")).rdd.mapPartitions { it =>
      val seen = new java.util.HashSet[Long]
      it.foreach { r =>
        if (!r.isNullAt(0)) r.getSeq[Long](0).foreach { e =>
          if (seen.size <= cap && !knownSet.contains(e, e)) seen.add(e)
        }
      }
      Iterator(seen.toArray.map(_.asInstanceOf[Long]))
    }.collect().flatten.distinct.sorted
  }

  private def dictFrame(spark: SparkSession, els: Array[Long]): DataFrame = {
    import spark.implicits._
    els.zipWithIndex.map { case (e, i) => (e, i) }.toSeq.toDF("el", "bit")
  }

  /** Sketch `docs` (doc_id, text) and persist the index tables as
    * generation 0, picking dense vs sparse mode from the measured
    * element universe. `tau` sizes sparse prefixes (sparse probes must
    * run at τ ≥ it). */
  def build(docs: DataFrame, path: String, tau: Double = 0.5): DedupIndex = {
    import graft.operators.PpJoin
    val spark = docs.sparkSession
    graft.functions.registerAll(spark)
    val tm = PpJoin.tauMicros(tau)
    val sh = shingled(docs)
    val gen = genName(0)
    // the persisted mode pick routes through the density-aware router
    // (r12) so a forced-regime ladder and the surfaced Decision cover
    // index builds too; probes replay whichever mode the manifest
    // committed, so the pick is build-time-only state
    // allowBanded = false: the persisted sketch serves batch × corpus
    // probes (bounded fan-out), so both persisted modes stay exact
    val pick = graft.operators.DedupRegime.pick(spark, sh, "sh", tau,
      "index_build", allowBanded = false)
    val mode = pick.dict match {
      case Some((els, _)) =>
        writeDense(path, gen, docs, els, extend = false)
        "dense"
      case None =>
        val hot = pick.hot.getOrElse(PpJoin.hotSet(sh, "sh"))
        writeSparse(path, gen, docs, hot, tm)
        writeGeneration(path, gen, Seq("hot" -> hotFrame(spark, hot)))
        "sparse"
    }
    commitManifest(spark, path, 0, tm, mode, Seq(gen))
    new DedupIndex(spark, path)
  }

  /** The hot set as a one-column frame for persistence. */
  private def hotFrame(spark: SparkSession,
      hot: graft.functions.LongPairSet): DataFrame = {
    import spark.implicits._
    hot.elements1.toDF("el")
  }

  /** The fixed schema of every index table. Reads pass it instead of
    * inferring one, which would cost a footer-reading Spark job per
    * table read. */
  private val TableSchemas = Map(
    "groups" -> "fp1 BIGINT, fp2 BIGINT, rep BIGINT, sigb BINARY, nonempty BOOLEAN",
    "members" -> "rep BIGINT, doc_id BIGINT",
    "postings" -> "el BIGINT, pid BIGINT, rk INT, n INT",
    "bitmaps" -> "pid BIGINT, n INT, bm BINARY",
    "dict" -> "el BIGINT, bit INT",
    "hot" -> "el BIGINT")

  private def readTable(spark: SparkSession, paths: Seq[String],
      table: String): DataFrame =
    spark.read.schema(TableSchemas(table)).parquet(paths: _*)

  def load(spark: SparkSession, path: String): DedupIndex =
    new DedupIndex(spark, path)

  /** Build at `path` — or, when `path` already holds a COMMITTED index
    * (a previous JVM built the same deterministic corpus there; callers
    * key the path by a corpus digest), load that instead of colliding
    * with its manifest. A pre-commit crash leaves no manifest, so the
    * orphan is rebuilt; a mid-build concurrent writer still fails
    * loudly at the commit rename, preserving single-writer semantics. */
  def buildOrLoad(docs: DataFrame, path: String, tau: Double = 0.5): DedupIndex = {
    val spark = docs.sparkSession
    val committed =
      try { currentManifest(spark, path); true }
      catch { case _: java.io.FileNotFoundException => false }
    if (committed) load(spark, path) else build(docs, path, tau)
  }

  // --- commit-log plumbing --------------------------------------------------

  // commit-log plumbing is the shared [[GenLog]]; only the tau=/mode=
  // header parsing is DedupIndex-specific
  private def fs(spark: SparkSession, path: String): FileSystem =
    GenLog.fs(spark, path)

  private def genName(seq: Long): String = GenLog.genName(seq)

  private val TauLine = raw"tau=(\d+)".r
  private val ModeLine = raw"mode=(\w+)".r

  /** Highest committed (seq, tauMicros, mode, live generation list).
    * The header lines are part of the manifest so the candidate-table
    * contract commits atomically with the generations it governs. */
  private def currentManifest(spark: SparkSession,
      path: String): (Long, Long, String, Seq[String]) = {
    val (seq, lines) = GenLog.current(spark, path)
    val tm = lines.collectFirst { case TauLine(t) => t.toLong }.getOrElse(
      throw new java.io.IOException(
        s"manifest $seq under $path/_log lacks a tau= line"))
    val mode = lines.collectFirst { case ModeLine(m) => m }.getOrElse(
      throw new java.io.IOException(
        s"manifest $seq under $path/_log lacks a mode= line"))
    (seq, tm, mode, lines.filterNot(l => l.startsWith("tau=") || l.startsWith("mode=")))
  }

  /** Materialize one complete generation (all tables). The nonce in
    * [[genName]] makes the directory fresh; Overwrite is retry
    * idempotency within one writer, never cross-writer clobbering. */
  private def writeGeneration(path: String, gen: String,
      tables: Seq[(String, DataFrame)]): Unit =
    tables.foreach { case (name, df) =>
      df.write.mode(SaveMode.Overwrite).parquet(s"$path/$gen/$name")
    }

  /** THE commit point — [[GenLog.commit]] with the tau=/mode= header
    * lines: atomic rename, [[ManifestRaceLost]] on a lost race, and a
    * reader never observes a half-written manifest. */
  private def commitManifest(spark: SparkSession, path: String, seq: Long,
      tauMicros: Long, mode: String, live: Seq[String]): Unit =
    GenLog.commit(spark, path, seq,
      s"tau=$tauMicros" +: s"mode=$mode" +: live)
}
