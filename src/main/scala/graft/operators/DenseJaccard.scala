package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge

import graft.functions.{BitmapAndCount, DictBitmap, LongIntMap, LongPairSet, PairSetContains}

/**
 * Exact set-similarity pairs for DENSE element universes — the regime
 * where the PPJoin prefix filter ([[PpJoin]]) is structurally weak.
 *
 * When the corpus's distinct-element universe U is much smaller than
 * `corpus × |set|` (small-vocabulary corpora: bag-of-words synthetic
 * text, categorical feature sets, k-mer alphabets), every document
 * shares most of its elements with every other document. A J ≥ τ
 * prefix then needs `n − ⌈τ·n⌉ + 1` elements per set drawn from a
 * universe that pigeonholes them onto everyone else's prefixes —
 * posting lists approach the corpus size and the posting join degrades
 * toward all-pairs row materialization (measured on the sf corpora:
 * 7.3×10⁸ posting-pair rows for 5 000 docs over a ~2 000-shingle
 * universe). No element ORDER can fix that; it is a property of the
 * universe, not the implementation.
 *
 * The dense regime instead makes each pair decision O(U/64) with zero
 * join fan-out:
 *  - a FROZEN dictionary maps each element fingerprint to a bit index
 *    (built once from the corpus's distinct elements — a bounded,
 *    partial-aggregated job; append-extensible: new elements take new
 *    bits, old bitmaps stay valid because old sets provably lack them);
 *  - each representative packs into a `U/8`-byte bitmap MAP-SIDE
 *    ([[graft.functions.DictBitmap]]) plus its true set size `n` (out-
 *    of-dictionary elements set no bit but count in `n`: they cannot
 *    intersect any dictionary-covered set, so
 *    `J = and/(na + nb − and)` stays EXACT — `and` from
 *    [[graft.functions.BitmapAndCount]], the τ-test in pure integer
 *    micro-units);
 *  - the pair scan is a broadcast nested-loop self-join over bitmap
 *    rows (a few hundred bytes each): the broadcast side is
 *    reps × U/8 bytes — megabytes when this regime applies — and the
 *    stream side never shuffles. The candidate OUTPUT is exactly the
 *    J ≥ τ pairs (the test is exact on hashed sets), so the downstream
 *    raw-set verify only strips 64-bit hash collisions.
 *
 * Scale honesty (revised r10 — the sf1.0 probe caught the original
 * O(reps²) scan not finishing at 10× data): candidates now come from
 * the PPJoin prefix filter transplanted into the bitmap regime
 * ([[prefixScan]] — bit-grain postings over the broadcast side, bits
 * ordered rarest-first, each stream row probes its
 * `pop − ⌈τ·n⌉ + 1` rarest bits; pigeonhole-complete for both the
 * symmetric J ≥ τ test and the asymmetric containment test). Work is
 * proportional to rare-bit posting mass: when qualifying pairs are
 * rare, that is near-linear; in the worst case — a universe so dense
 * every pair qualifies — it degrades to the old all-pairs cost, which
 * is Ω(output) there anyway. The regime switch
 * ([[DenseJaccard.universeSize]] against `maxUniverseBits`) still
 * routes real web-scale corpora — sparse universes — to the posting
 * path.
 */
object DenseJaccard {

  /** Hard cap on dictionary width: 32 Ki bits = 4 KiB bitmaps. Above
    * this the prefix-filter regime wins and callers must not come
    * here. */
  val MaxUniverseBits: Int = 1 << 15

  /** Distinct-element count of a set column, counted only far enough
    * to decide the regime (the limit bounds the job at any scale). */
  def universeSize(docs: DataFrame, setCol: String, cap: Int = MaxUniverseBits): Long =
    docs.select(explode(PpJoin.hashedEls(col(setCol))).as("el"))
      .distinct().limit(cap + 1).count()

  /** Regime decision and dictionary in ONE bounded job: collect the
    * distinct element fingerprints up to the cap + 1 — overflow means
    * "sparse universe, use the prefix filter" (None); otherwise the
    * sorted elements ARE the dictionary (index = bit). */
  def tryBuildDict(docs: DataFrame, setCol: String): Option[(Array[Long], LongIntMap)] = {
    val els = docs.select(explode(PpJoin.hashedEls(col(setCol))).as("el"))
      .distinct().limit(MaxUniverseBits + 1)
      .collect().map(_.getLong(0))
    if (els.length > MaxUniverseBits) None
    else {
      val sorted = els.sorted
      Some((sorted, dictFromEls(sorted)))
    }
  }

  /** Dictionary WITH document frequencies: els sorted ascending (bit
    * index = position), df aligned to els. The density-aware router's
    * input (r12) — same bounded-collect discipline as [[tryBuildDict]]
    * (≤ cap+1 rows leave the partial-aggregated groupBy). */
  final case class DictStats(els: Array[Long], dict: LongIntMap,
      df: Array[Long]) extends Serializable

  def tryBuildDictStats(docs: DataFrame, setCol: String): Option[DictStats] = {
    val rows = docs.select(explode(PpJoin.hashedEls(col(setCol))).as("el"))
      .groupBy(col("el")).count()
      .limit(MaxUniverseBits + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (rows.length > MaxUniverseBits) None
    else {
      val sorted = rows.sortBy(_._1)
      Some(DictStats(sorted.map(_._1), dictFromEls(sorted.map(_._1)),
        sorted.map(_._2)))
    }
  }

  /**
   * Estimated candidate-visit mass of the dense [[prefixScan]] over
   * this corpus (r12, the density-aware router's meter): per document,
   * the summed document frequencies of its `k = pop − ⌈τ·pop⌉ + 1`
   * RAREST in-dictionary elements — exactly the postings the scan
   * would walk — capped per row at the corpus size (the scan's
   * adaptive all-pairs fallback caps real work there too). One
   * distributed pass, df riding the closure (≤ 32 Ki longs), the only
   * exchange the final scalar agg. Returns `(nDocs, totalMass)`;
   * `totalMass / nDocs` ≈ candidates visited per row.
   */
  def prefixMassEstimate(docs: DataFrame, setCol: String, stats: DictStats,
      tm: Long): (Long, Long) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nDocs = docs.select(col(setCol)).filter(size(col(setCol)) > 0).count()
    if (nDocs == 0) return (0L, 0L)
    val b = spark.sparkContext.broadcast(stats)
    val mass = docs
      .select(PpJoin.hashedEls(col(setCol)).as("els"))
      .filter(size(col("els")) > 0)
      .as[Array[Long]]
      .mapPartitions { it =>
        val st = b.value
        it.map { els =>
          // true set size n counts out-of-dictionary elements too (they
          // set no bit but lengthen the required overlap)
          val n = els.length
          val dfs = new Array[Long](n)
          var pop = 0
          var i = 0
          while (i < n) {
            val at = java.util.Arrays.binarySearch(st.els, els(i))
            if (at >= 0) { dfs(pop) = st.df(at); pop += 1 }
            i += 1
          }
          val minShare = ((tm * n + 999999L) / 1000000L).toInt
          val k = pop - minShare + 1
          if (minShare <= 0 || k >= pop) {
            // τ = 0 or all bits in the prefix: the scan is all-pairs
            nDocs
          } else if (k <= 0) 0L
          else {
            java.util.Arrays.sort(dfs, 0, pop)
            var m = 0L
            var j = 0
            while (j < k) { m += dfs(j); j += 1 }
            math.min(m, nDocs)
          }
        }
      }
      .reduce(_ + _)
    b.destroy()
    (nDocs, mass)
  }

  /** The frozen dictionary: distinct element fingerprints, sorted for
    * determinism — index in the array IS the bit index. Bounded driver
    * collect (callers must know the universe fits). */
  def buildDict(docs: DataFrame, setCol: String): (Array[Long], LongIntMap) =
    tryBuildDict(docs, setCol).getOrElse(throw new IllegalArgumentException(
      s"dense dictionary exceeds $MaxUniverseBits bits — " +
        "use the prefix-filter regime"))

  /** Rebuild the dictionary map from its element array (bit index =
    * array position — the persistence format). */
  def dictFromEls(els: Array[Long]): LongIntMap = {
    val m = LongIntMap(math.max(els.length, 1))
    var i = 0
    while (i < els.length) { m.put(els(i), i); i += 1 }
    m
  }

  /** The packed bitmap of a hashed-element array column. */
  def bitmapCol(els: Column, dict: LongIntMap, widthBits: Int): Column =
    GraftSqlBridge.column(DictBitmap(
      GraftSqlBridge.expression(els), dict, (widthBits + 7) / 8))

  /** Bitmap frame `(pid, n, bm)` — one row per kept document, computed
    * map-side. `exclude` drops non-representative ids (the caller's
    * collapse already proved them redundant). */
  def bitmaps(docs: DataFrame, idCol: String, setCol: String,
      dict: LongIntMap, widthBits: Int,
      exclude: Option[LongPairSet]): DataFrame = {
    val els = PpJoin.hashedEls(col(setCol))
    val base = docs.select(col(idCol).as("pid"), els.as("els"))
      .filter(size(col("els")) > 0)
    val kept = exclude match {
      case Some(set) => base.filter(!GraftSqlBridge.column(PairSetContains(
        GraftSqlBridge.expression(col("pid")),
        GraftSqlBridge.expression(col("pid")), set)))
      case None => base
    }
    kept.select(col("pid"), size(col("els")).as("n"),
      bitmapCol(col("els"), dict, widthBits).as("bm"))
  }

  private def andCount(a: Column, b: Column): Column =
    GraftSqlBridge.column(BitmapAndCount(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** `J ≥ τ` in exact integer micro-units:
    * `and/(na+nb−and) ≥ tm/10⁶ ⇔ and·(10⁶+tm) ≥ tm·(na+nb)`. */
  private def tauOk(and: Column, na: Column, nb: Column, tm: Long): Column =
    and.cast("long") * lit(1000000L + tm) >=
      lit(tm) * (na.cast("long") + nb.cast("long"))

  /** The PPJoin length filter as a popcount short-circuit: a J ≥ τ
    * pair needs `tm·max(na,nb) ≤ 10⁶·min(na,nb)` — two int compares
    * that skip the O(U/64) AND for most non-pairs (codegen'd `&&` is
    * lazy). */
  private def lenOk(na: Column, nb: Column, tm: Long): Column =
    lit(tm) * greatest(na.cast("long"), nb.cast("long")) <=
      lit(1000000L) * least(na.cast("long"), nb.cast("long"))

  /** One side of the pair scan collected into primitive arrays for the
    * broadcast: (pid, n, bitmap-as-long[]). */
  private final case class Packed(pids: Array[Long], ns: Array[Int],
      words: Array[Array[Long]]) extends Serializable {
    def size: Int = pids.length
  }

  private def toWords(bm: Array[Byte]): Array[Long] = {
    val w = new Array[Long]((bm.length + 7) / 8)
    var i = 0
    while (i < bm.length) {
      w(i >> 3) |= (bm(i).toLong & 0xFFL) << ((i & 7) << 3)
      i += 1
    }
    w
  }

  private def pack(rows: Array[org.apache.spark.sql.Row]): Packed = Packed(
    rows.map(_.getLong(0)), rows.map(_.getInt(1)),
    rows.map(r => toWords(r.getAs[Array[Byte]](2))))

  /** AND-popcount over two long[] bitmaps (widths may differ — the
    * excess ANDs with implicit zeros). */
  private def andWords(a: Array[Long], b: Array[Long]): Int = {
    val m = math.min(a.length, b.length)
    var c = 0; var i = 0
    while (i < m) { c += java.lang.Long.bitCount(a(i) & b(i)); i += 1 }
    c
  }

  /** The inner scan: for one stream row, every broadcast row it beats.
    * Pure primitive arithmetic — no per-pair allocation (a Catalyst
    * BNLJ formulation pays an `Array[Byte]` copy per `getBinary` per
    * pair — measured 2-3× slower at 25 M pairs). */
  private def scan(p: Packed, pid: Long, n: Int, w: Array[Long], tm: Long,
      requireIdLess: Boolean): Iterator[(Long, Long)] =
    new Iterator[(Long, Long)] {
      private var i = 0
      private var nextPair: (Long, Long) = null
      private def advance(): Unit = {
        nextPair = null
        while (i < p.size && nextPair == null) {
          val ni = p.ns(i)
          val keep = (!requireIdLess || pid < p.pids(i)) &&
            tm * math.max(n, ni) <= 1000000L * math.min(n, ni) && {
              val and = andWords(w, p.words(i))
              and * (1000000L + tm) >= tm * (n.toLong + ni)
            }
          if (keep) nextPair = (pid, p.pids(i))
          i += 1
        }
      }
      advance()
      override def hasNext: Boolean = nextPair != null
      override def next(): (Long, Long) = {
        val r = nextPair; advance(); r
      }
    }

  /** Driver-collect cap for the broadcast side of the scan: rows ×
    * (U/8 + 24) bytes — 256 Ki rows of 4 KiB bitmaps ≈ 1 GiB, the
    * broadcast-table ballpark. Beyond it the Catalyst BNLJ fallback
    * runs (Spark-managed broadcast; slower per pair but driver-safe).
    * A dense universe with reps far past this produces quadratic
    * OUTPUT anyway (see object doc) — the cap is about driver memory,
    * not asymptotics. */
  val MaxBroadcastRows: Int = 1 << 18

  private def packSide(bms: DataFrame): Option[Packed] = {
    val rows = bms.select(col("pid"), col("n").cast("int").as("n"), col("bm"))
      .limit(MaxBroadcastRows + 1).collect()
    if (rows.length > MaxBroadcastRows) None else Some(pack(rows))
  }

  /**
   * The prefix-filtered pair scan (r10 — found by the sf1.0 probe: the
   * all-pairs [[scan]] made the whole dense family reps²; on the probe
   * corpus the lenOk short-circuit bought nothing because near-scale
   * documents share lengths). The PPJoin pigeonhole holds for Jaccard
   * too: `J ≥ τ ⇒ and·10⁶ ≥ tm·(na+nb−and) ≥ tm·na` (nb ≥ and), so a
   * qualifying B shares at least one of A's `k = pop(A) − ⌈τ·na⌉ + 1`
   * RAREST bits. Candidates come from those bits' postings
   * (stamp-deduped), the verify is the UNCHANGED exact integer test —
   * identical output, candidate work ∝ rare-bit posting mass. τ = 0
   * degenerates to the full scan (every pair qualifies — output-bound
   * either way). In a truly dense universe (everyone shares every bit)
   * postings approach the corpus and this degrades gracefully to the
   * old all-pairs cost — never worse, usually far better.
   */
  private def prefixScan(p: Packed, idx: BitPostings, stamp: Array[Int],
      r: Int, pid: Long, n: Int, w: Array[Long], tm: Long,
      requireIdLess: Boolean): Iterator[(Long, Long)] = {
    val minShare = ((tm * n + 999999L) / 1000000L).toInt
    if (minShare <= 0) return scan(p, pid, n, w, tm, requireIdLess)
    val rare = idx.bitsByRarity(w)
    val k = rare.length - minShare + 1
    if (k <= 0) return Iterator.empty
    // adaptive fallback (r10): if this row's prefix postings would
    // visit as many candidates as the linear scan has rows, the scan's
    // cheap length short-circuit wins — never pay MORE than the old
    // all-pairs cost (a dense row on a dense corpus)
    if (idx.prefixMass(rare, k) >= p.size)
      return scan(p, pid, n, w, tm, requireIdLess)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var bi = 0
    while (bi < k) {
      val post = idx.postings(rare(bi))
      var pi = 0
      while (pi < post.length) {
        val i = post(pi)
        if (stamp(i) != r) {
          stamp(i) = r
          val ni = p.ns(i)
          if ((!requireIdLess || pid < p.pids(i)) &&
              tm * math.max(n, ni) <= 1000000L * math.min(n, ni) && {
                val and = andWords(w, p.words(i))
                and * (1000000L + tm) >= tm * (n.toLong + ni)
              })
            out += ((pid, p.pids(i)))
        }
        pi += 1
      }
      bi += 1
    }
    out.iterator
  }

  /** All J ≥ τ pairs `(id_a < id_b)` over the bitmap frame — the
    * broadcast side collected ONCE into primitive arrays, the stream
    * side mapPartitions over them (zero shuffle, zero per-pair
    * allocation); output is already exact on hashed sets. Candidates
    * via [[prefixScan]] (r10). */
  def selfPairs(bms: DataFrame, tm: Long): DataFrame = {
    val spark = bms.sparkSession
    import spark.implicits._
    packSide(bms) match {
      case Some(p) =>
        // the stream side iterates the PACKED broadcast itself (r13):
        // streaming `bms` again re-ran the whole bitmap pass (corpus
        // scan + shingle + pack) a second time per query — the packed
        // side already holds every row, so a range over its indices is
        // the same work distribution with zero recompute
        val b = spark.sparkContext.broadcast(p)
        spark.range(p.size.toLong).as[Long]
          .mapPartitions { it =>
            val pk = b.value
            val idx = BitPostings.of(pk, tm)  // index-prefix postings (symmetric lemma)
            val stamp = new Array[Int](pk.size)
            var round = 0
            it.flatMap { iRow =>
              val i = iRow.toInt
              round += 1
              prefixScan(pk, idx, stamp, round, pk.pids(i), pk.ns(i),
                pk.words(i), tm, requireIdLess = true)
            }
          }.toDF("id_a", "id_b")
      case None =>
        val and = andCount(col("x.bm"), col("y.bm"))
        bms.as("x").join(broadcast(bms.as("y")),
            col("x.pid") < col("y.pid") &&
              lenOk(col("x.n"), col("y.n"), tm) &&
              tauOk(and, col("x.n"), col("y.n"), tm))
          .select(col("x.pid").as("id_a"), col("y.pid").as("id_b"))
    }
  }

  /** All cross-side J ≥ τ pairs of a driver-held probe batch
    * `(pid, n, bitmap)` against the corpus bitmap table. The packed
    * batch rides the task closure (no broadcast to create or destroy)
    * and the corpus streams map-side with zero shuffle — the
    * O(batch-work) probe shape. Candidates via [[prefixScan]] (r10): the
    * pigeonhole bound `and ≥ ⌈τ·n⌉` holds for the STREAM row's n by
    * symmetry, so the corpus row's rare bits prune the probe side. */
  def crossPairs(probe: Seq[(Long, Int, Array[Byte])], corpus: DataFrame,
      tm: Long): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val pk = Packed(probe.map(_._1).toArray, probe.map(_._2).toArray,
      probe.map(p => toWords(p._3)).toArray)
    corpus.select(col("pid"), col("n").cast("int").as("n"), col("bm"))
      .as[(Long, Int, Array[Byte])]
      .mapPartitions { it =>
        val idx = BitPostings.of(pk, tm)  // index-prefix postings (symmetric lemma)
        val stamp = new Array[Int](pk.size)
        var round = 0
        it.flatMap { case (pid, n, bm) =>
          round += 1
          // emitted as (probe pid, corpus pid)
          prefixScan(pk, idx, stamp, round, pid, n, toWords(bm), tm,
            requireIdLess = false)
            .map { case (ex, in) => (in, ex) }
        }
      }.toDF("in_rep", "ex_rep")
  }
  /** Bit-grain postings over a packed side: for every bit, the row
    * indices whose bitmap sets it. Built once per executor from the
    * broadcast arrays (one linear pass over rows × words —
    * microseconds next to the scans it prunes).
    *
    * `prefixTm` > 0 builds INDEX-PREFIX postings (r10, the PPJoin
    * prefix-prefix lemma): row i contributes only its
    * `k_i = pop_i − ⌈τ·n_i⌉ + 1` rarest bits. Sound for the SYMMETRIC
    * J ≥ τ join because `and ≥ τ·max(na, nb)` (from
    * `and·(10⁶+tm) ≥ tm·(na+nb)` and `and ≤ min(na, nb)`), and the
    * classic prefix-intersection lemma (the smallest shared bit s₁
    * lies in BOTH sides' `pop − α + 1` prefixes when `and ≥ α`) then
    * guarantees a probe-prefix ∩ index-prefix hit. Containment's
    * container side admits no such pruning — it passes `prefixTm = 0`
    * for full postings. Rarity order is the FULL document frequency
    * (kept separately in `df`), identical on both sides. */
  private final class BitPostings(p: Packed, prefixTm: Long) {
    val width: Int = {
      var m = 0
      var i = 0
      while (i < p.size) { m = math.max(m, p.words(i).length); i += 1 }
      m * 64
    }
    /** Full document frequency per bit — the global rarity order. */
    val df: Array[Int] = {
      val d = new Array[Int](width)
      var i = 0
      while (i < p.size) {
        val w = p.words(i)
        var wi = 0
        while (wi < w.length) {
          var bits = w(wi)
          while (bits != 0L) {
            d(wi * 64 + java.lang.Long.numberOfTrailingZeros(bits)) += 1
            bits &= bits - 1
          }
          wi += 1
        }
        i += 1
      }
      d
    }
    /** The bits row i contributes to the index: all (prefixTm = 0) or
      * its k_i rarest (index prefix). */
    private def contributed(i: Int): Array[Int] = {
      val bits = bitsOf(p.words(i))
      if (prefixTm <= 0) bits
      else {
        val minShare = ((prefixTm * p.ns(i) + 999999L) / 1000000L).toInt
        val k = bits.length - minShare + 1
        if (k <= 0) Array.emptyIntArray else bits.take(k)
      }
    }
    val postings: Array[Array[Int]] = {
      val cnt = new Array[Int](width)
      var i = 0
      while (i < p.size) {
        contributed(i).foreach(b => cnt(b) += 1)
        i += 1
      }
      val out = Array.tabulate(width)(b => new Array[Int](cnt(b)))
      val fill = new Array[Int](width)
      i = 0
      while (i < p.size) {
        contributed(i).foreach { b =>
          out(b)(fill(b)) = i
          fill(b) += 1
        }
        i += 1
      }
      out
    }
    /** Set bits of `w`, ordered by ASCENDING full document frequency
      * (rarest first), ties by bit id — the shared global order.
      * Primitive packed-long sort (df ≤ 2¹⁸ rows, bit < 2²⁰ — one
      * `Arrays.sort`, no boxing: the per-row sort sits on the hot
      * path of every pair scan). */
    def bitsOf(w: Array[Long]): Array[Int] = {
      var cnt = 0
      var wi = 0
      while (wi < w.length) { cnt += java.lang.Long.bitCount(w(wi)); wi += 1 }
      val packed = new Array[Long](cnt)
      var k = 0
      wi = 0
      while (wi < w.length) {
        var bs = w(wi)
        while (bs != 0L) {
          val b = wi * 64 + java.lang.Long.numberOfTrailingZeros(bs)
          packed(k) = ((if (b < width) df(b).toLong else 0L) << 20) | b
          k += 1
          bs &= bs - 1
        }
        wi += 1
      }
      java.util.Arrays.sort(packed)
      val bits = new Array[Int](cnt)
      k = 0
      while (k < cnt) { bits(k) = (packed(k) & 0xFFFFF).toInt; k += 1 }
      bits
    }
    def bitsByRarity(w: Array[Long]): Array[Int] = bitsOf(w)
    /** Candidate visits a `k`-bit prefix of `rare` would make (actual
      * posting lengths, pre-dedup) — the adaptive-fallback meter: when
      * this reaches the row count, the old linear scan is cheaper. */
    def prefixMass(rare: Array[Int], k: Int): Long = {
      var m = 0L
      var i = 0
      while (i < k) { m += postings(rare(i)).length; i += 1 }
      m
    }
  }

  /** One postings index per executor per (broadcast value, prefix
    * mode) — tasks share the deserialized Packed instance, so
    * identity-keyed weak memoing is exact and frees with the
    * broadcast. A closure-held side ([[crossPairs]]) is deserialized
    * per task, so each task builds its own. */
  private object BitPostings {
    private val cache =
      new java.util.WeakHashMap[Packed, java.util.HashMap[Long, BitPostings]]()
    def of(p: Packed, prefixTm: Long): BitPostings = cache.synchronized {
      var byTm = cache.get(p)
      if (byTm == null) { byTm = new java.util.HashMap(); cache.put(p, byTm) }
      var hit = byTm.get(prefixTm)
      if (hit == null) { hit = new BitPostings(p, prefixTm); byTm.put(prefixTm, hit) }
      hit
    }
  }

  /** All DIRECTED containment pairs `(id_a contained-in id_b at τ)` —
    * the test is the asymmetric `|A∩B| ≥ τ·|A|` (`and·10⁶ ≥ tm·na` in
    * exact integers); every row is visited once as the CONTAINED side,
    * so both directions emerge from one pass. The containment
    * primitive behind template/boilerplate-instance detection — "find
    * every document whose shingle set is mostly inside another's".
    *
    * r10 (found by the sf1.0 scale probe): the scan is NO LONGER
    * all-pairs. Unlike symmetric dense Jaccard — where a dense
    * universe makes the qualifying-pair count itself quadratic — rare
    * CONTAINMENT pairs admit the PPJoin prefix filter on the contained
    * side: if B contains ≥ ⌈τ·n⌉ of A's n elements, B shares at least
    * one of A's `k = n − ⌈τ·n⌉ + 1` RAREST elements (pigeonhole; any k
    * misses cap the intersection at ⌈τ·n⌉ − 1). So each stream row
    * gathers candidates from the bit-grain postings of its k
    * rarest-first bits (frequency order derived from the broadcast
    * side itself), dedupes with a stamp array, and verifies the exact
    * integer test — identical output, candidate work proportional to
    * rare-bit posting mass instead of reps². At sf1.0 (≈48 k reps)
    * this turned a ≈2.5·10⁹-AND stall into sub-second candidate work.
    */
  def containPairs(bms: DataFrame, tm: Long): DataFrame = {
    val spark = bms.sparkSession
    import spark.implicits._
    packSide(bms) match {
      case Some(p) =>
        // stream side = range over the packed broadcast (r13) — same
        // one-pass rationale as [[selfPairs]]
        val b = spark.sparkContext.broadcast(p)
        spark.range(p.size.toLong).as[Long]
          .mapPartitions { it =>
            val pk = b.value
            val idx = BitPostings.of(pk, 0L) // FULL postings: the container side admits no prefix
            val stamp = new Array[Int](pk.size)
            var round = 0
            it.flatMap { iRow =>
              val i0 = iRow.toInt
              val pid = pk.pids(i0)
              val n = pk.ns(i0)
              val w = pk.words(i0)
              val minAnd = ((tm * n + 999999L) / 1000000L).toInt
              round += 1
              val r = round
              if (minAnd <= 0) {
                // τ = 0 degenerate: every ordered pair qualifies
                (0 until pk.size).iterator.collect {
                  case i if pk.pids(i) != pid => (pid, pk.pids(i))
                }
              } else {
                val rare = idx.bitsByRarity(w)
                val k = math.min(rare.length, rare.length - minAnd + 1)
                val outBuf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
                if (k > 0 && idx.prefixMass(rare, k) >= pk.size) {
                  // adaptive fallback: the linear scan visits fewer
                  // rows than these postings would (with its cheap
                  // size pre-check) — never worse than all-pairs
                  var i = 0
                  while (i < pk.size) {
                    if (pk.pids(i) != pid && pk.ns(i) >= minAnd &&
                        andWords(w, pk.words(i)) >= minAnd)
                      outBuf += ((pid, pk.pids(i)))
                    i += 1
                  }
                } else {
                  var bi = 0
                  while (bi < k) {
                    val post = idx.postings(rare(bi))
                    var pi = 0
                    while (pi < post.length) {
                      val i = post(pi)
                      if (stamp(i) != r) {
                        stamp(i) = r
                        if (pk.pids(i) != pid && pk.ns(i) >= minAnd &&
                            andWords(w, pk.words(i)) >= minAnd)
                          outBuf += ((pid, pk.pids(i)))
                      }
                      pi += 1
                    }
                    bi += 1
                  }
                }
                outBuf.iterator
              }
            }
          }.toDF("id_a", "id_b")
      case None =>
        val and = andCount(col("x.bm"), col("y.bm"))
        bms.as("x").join(broadcast(bms.as("y")),
            col("x.pid") =!= col("y.pid") &&
              and.cast("long") * lit(1000000L) >= lit(tm) * col("x.n").cast("long"))
          .select(col("x.pid").as("id_a"), col("y.pid").as("id_b"))
    }
  }
}