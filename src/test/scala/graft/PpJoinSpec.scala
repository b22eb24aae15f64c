package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.PpJoin
import graft.queries.DedupQueries

/**
 * Completeness proofs for the exact PPJoin prefix filter — the
 * regression armor the r6 verdict asked for: band/prefix retuning must
 * never again be able to silently drop qualifying pairs. Every test
 * compares the FULL pipeline output (candidates + exact verify +
 * member expansion) against a driver-side brute-force all-pairs
 * oracle, so any incompleteness in ordering, prefix sizing, integer
 * arithmetic, or the length/positional filters surfaces as a missing
 * pair, not a statistic.
 */
class PpJoinSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(sets: Seq[(Long, Seq[String])]): DataFrame =
    sets.toDF("doc_id", "sh")

  /** Brute-force all-pairs oracle with the pipeline's own semantics:
    * distinct elements, round-to-4 HALF_UP jaccard, empty∪empty pairs
    * excluded. */
  private def bruteForce(sets: Seq[(Long, Seq[String])],
      tau: Double): Set[(Long, Long, Double)] = {
    val m = sets.map { case (id, s) => id -> s.toSet }
    (for {
      (ia, sa) <- m; (ib, sb) <- m if ia < ib
      u = (sa ++ sb).size if u > 0
      j = BigDecimal(sa.intersect(sb).size.toDouble / u)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= tau
    } yield (ia, ib, j)).toSet
  }

  private def pipeline(sets: Seq[(Long, Seq[String])],
      tau: Double): Set[(Long, Long, Double)] =
    DedupQueries.lshVerifiedPairs(docsDf(sets), "sh", tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Two sets with exactly `o` shared and sizes (na, nb), all elements
    * unique to this pair (the `tag` prevents cross-pair overlap). */
  private def plant(tag: String, o: Int, na: Int, nb: Int): (Seq[String], Seq[String]) = {
    val shared = (0 until o).map(i => s"$tag-s$i")
    (shared ++ (o until na).map(i => s"$tag-a$i"),
      shared ++ (o until nb).map(i => s"$tag-b$i"))
  }

  test("planted J in {0.45, 0.5, 0.55, 0.6} pairs are all found at tau=0.45 " +
      "(the class 16x4 banding missed with ~coin-flip probability)") {
    // exact-ratio plants: J = o/u with u = na + nb - o
    val plants = Seq(
      (0.45, 9, 14, 15), // 9/20
      (0.50, 10, 15, 15), // 10/20
      (0.55, 11, 15, 16), // 11/20
      (0.60, 12, 16, 16)) // 12/20
    val sets = plants.zipWithIndex.flatMap { case ((j, o, na, nb), i) =>
      val (a, b) = plant(s"p$j", o, na, nb)
      Seq((i * 2L) -> a, (i * 2L + 1) -> b)
    } ++ (100L until 140L).map(i => i -> (0 until 12).map(k => s"bg$i-$k"))
    val out = pipeline(sets, 0.45)
    val oracle = bruteForce(sets, 0.45)
    assert(oracle.size >= 4, s"oracle lost a plant: $oracle")
    assert(out == oracle, s"missing=${oracle -- out} spurious=${out -- oracle}")
  }

  test("randomized brute-force equality across taus and set sizes " +
      "(covers the float-ceil prefix-shortening class)") {
    val rnd = new scala.util.Random(20260814L)
    // 1/3 and 2/3: repeating-decimal taus where tm = floor(tau*1e6)
    // strictly undershoots — the widen-only direction of the micro-unit
    // arithmetic is what keeps these exact
    for (tau <- Seq(0.3, 1.0 / 3, 0.4, 0.5, 2.0 / 3, 0.7)) {
      // small element universe => dense accidental overlaps at every J
      val sets = (0L until 90L).map { id =>
        val n = 1 + rnd.nextInt(12)
        id -> Seq.fill(n)(s"e${rnd.nextInt(40)}")
      }
      val out = pipeline(sets, tau)
      val oracle = bruteForce(sets, tau)
      assert(out == oracle,
        s"tau=$tau missing=${oracle -- out} spurious=${out -- oracle}")
    }
  }

  test("completeness is hot-order-insensitive: empty and aggressive hot " +
      "sets give identical verified output") {
    val rnd = new scala.util.Random(7L)
    val sets = (0L until 60L).map { id =>
      id -> (Seq.fill(6 + rnd.nextInt(8))(s"c${rnd.nextInt(25)}") :+ s"u$id")
    }
    val docs = docsDf(sets)
    val groups = DedupQueries.collapseGroups(docs, "sh")
    val tm = PpJoin.tauMicros(0.5)
    def candWith(hot: graft.functions.LongPairSet) =
      PpJoin.selfPairs(DedupQueries.repPostings(docs, groups, "sh", tm, hot), tm)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val empty = graft.functions.LongPairSet(1)
    val aggressive = PpJoin.hotSet(docs, "sh", minFrac = 0.01)
    val oracle = bruteForce(sets, 0.5).map(p => (p._1, p._2))
    // the hot sets legitimately change CANDIDATES; both must cover the oracle
    assert(oracle.subsetOf(candWith(empty)))
    assert(oracle.subsetOf(candWith(aggressive)))
  }

  test("cross-side probe finds every planted J >= tau batch-vs-corpus " +
      "pair, including the band-miss J class") {
    val plants = Seq((0.45, 9, 14, 15), (0.5, 10, 15, 15),
      (0.55, 11, 15, 16), (0.6, 12, 16, 16))
    // even ids -> corpus, odd -> batch; each plant straddles the split
    val sets = plants.zipWithIndex.flatMap { case ((j, o, na, nb), i) =>
      val (a, b) = plant(s"x$j", o, na, nb)
      Seq((i * 2L) -> a, (i * 2L + 1) -> b)
    } ++ (100L until 130L).map(i => i -> (0 until 10).map(k => s"bgx$i-$k"))
    val texts = sets.map { case (id, s) => (id, s.mkString(" ")) }
    // word unigrams survive the round trip through text exactly
    val docs = texts.toDF("doc_id", "text")
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val shingle = (t: org.apache.spark.sql.Column) =>
      array_distinct(filter(split(t, " "), x => length(x) > 0))
    val exDocs = existing.select(col("doc_id"), shingle(col("text")).as("sh"))
    val inDocs = incoming.select(col("doc_id"), shingle(col("text")).as("sh"))
    val tau = 0.45
    val tm = PpJoin.tauMicros(tau)
    val hot = PpJoin.hotSet(exDocs, "sh")
    val exG = DedupQueries.collapseGroups(exDocs, "sh")
    // the batch side as the probe holds it on the driver: each set's
    // (pid, n, prefix elements in engine order)
    val inPost = inDocs.select(col("doc_id"), size(PpJoin.hashedEls(col("sh"))),
        PpJoin.prefixEls("sh", tm, hot))
      .collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray))
    val cand = PpJoin.crossPairs(inPost,
        DedupQueries.repPostings(exDocs, exG, "sh", tm, hot), tm)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inSets = sets.filter(_._1 % 2 == 1).map { case (id, s) => id -> s.toSet }
    val exSets = sets.filter(_._1 % 2 == 0).map { case (id, s) => id -> s.toSet }
    val oracle = (for {
      (ii, si) <- inSets; (ei, se) <- exSets
      u = (si ++ se).size if u > 0
      if si.intersect(se).size.toDouble / u >= tau
      if si != se // identical sets resolve via the exact-fp path instead
    } yield (ii, ei)).toSet
    assert(oracle.size >= 4)
    assert(oracle.subsetOf(cand), s"missing=${oracle -- cand}")
  }

  test("REAL corpus, both regimes: forced-sparse PPJoin candidates cover " +
      "the same verified pairs the dense path finds on gate shingles") {
    // the gate corpora are dense-universe (small synthetic vocabulary),
    // so the sparse path would otherwise never see real text: force it
    // and demand candidate coverage of the dense path's verified output
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), DedupQueries.charShingles(col("text"), 5).as("sh"))
    val groups = DedupQueries.collapseGroups(docs, "sh")
    def cand(forceSparse: Boolean): Set[(Long, Long)] =
      DedupQueries.prefixCandidatePairs(docs, groups, "sh", 0.5,
          forceSparse = forceSparse)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dense = cand(forceSparse = false)
    val sparse = cand(forceSparse = true)
    // dense candidates ARE the J >= tau pairs (exact popcount test);
    // sparse candidates are a superset by the prefix lemma
    assert(dense.subsetOf(sparse),
      s"sparse path lost qualifying pairs: ${dense -- sparse}")
    assert(dense.nonEmpty, "gate corpus should contain near-dup rep pairs")
  }

  test("fp-keyed fallback postings (pathological-duplication regime) " +
      "produce the same verified pairs as the closure-set regime") {
    val rnd = new scala.util.Random(99L)
    val base = (0L until 40L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(8))(s"f${rnd.nextInt(30)}")
    }
    // heavy duplication: every set re-appears under 3 more ids
    val sets = base ++ base.flatMap { case (id, s) =>
      (1 to 3).map(c => (id + 1000L * c) -> s)
    }
    val docs = docsDf(sets)
    val groups = DedupQueries.collapseGroups(docs, "sh")
    val tm = PpJoin.tauMicros(0.5)
    val hot = PpJoin.hotSet(docs, "sh")
    val r1 = PpJoin.selfPairs(
        DedupQueries.repPostings(docs, groups, "sh", tm, hot), tm)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r2 = PpJoin.selfPairs(
        DedupQueries.repPostings(docs, groups, "sh", tm, hot,
          maxDriverNonReps = 0), tm)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r1 == r2, s"regimes disagree: only-closure=${r1 -- r2} only-fp=${r2 -- r1}")
    val oracle = bruteForce(sets, 0.5)
      .collect { case (a, b, _) if a < 40 && b < 40 => (a, b) }
    // rep-level candidates must cover all base-id qualifying pairs
    assert(oracle.forall { case (a, b) =>
      r1.contains((a, b)) ||
        sets.toMap.apply(a).toSet == sets.toMap.apply(b).toSet
    })
  }
test("containment: planted template instance found by both regimes; " +
      "jaccard alone would miss it") {
    // A = a 12-el template; B = A plus 60 extra els: c(A in B) = 1.0
    // but J = 12/72 = 0.167 — far below any near-dup tau
    val tmpl = (0 until 12).map(i => s"t$i")
    val container = tmpl ++ (0 until 60).map(i => s"x$i")
    val rnd = new scala.util.Random(3)
    val noise = (10L until 50L).map(id =>
      id -> Seq.fill(15)(s"n${rnd.nextInt(300)}"))
    val sets = Seq(0L -> tmpl, 1L -> container) ++ noise
    val docs = sets.toDF("doc_id", "sh")
    val groups = DedupQueries.collapseGroups(docs, "sh")
    val tm = PpJoin.tauMicros(0.8)
    // dense regime
    val (els, dict) = graft.operators.DenseJaccard.buildDict(docs, "sh")
    val dense = graft.operators.DenseJaccard.containPairs(
        DedupQueries.repBitmaps(docs, groups, "sh", dict, els.length), tm)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sparse regime (tau-prefix contained side vs full container postings)
    val hot = PpJoin.hotSet(docs, "sh")
    val sparse = PpJoin.containPairs(
        DedupQueries.repPostings(docs, groups, "sh", tm, hot),
        DedupQueries.repPostings(docs, groups, "sh", 0L, hot), tm)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dense.contains((0L, 1L)), s"dense missed the template: $dense")
    assert(sparse.contains((0L, 1L)), s"sparse missed the template: $sparse")
    assert(!dense.contains((1L, 0L)), "the container is not contained")
    // brute-force directed oracle: both regimes must cover it
    val m = sets.map { case (id, ss) => id -> ss.toSet }
    val want = (for {
      (ia, sa) <- m; (ib, sb) <- m if ia != ib && sa.nonEmpty
      if sa.intersect(sb).size.toDouble / sa.size >= 0.8
    } yield (ia, ib)).toSet
    assert(want.subsetOf(dense), s"dense lost: ${want -- dense}")
    assert(want.subsetOf(sparse), s"sparse lost: ${want -- sparse}")
  }
test("dense containPairs (r10 prefix-posting rewrite): EXACT equality with " +
      "a brute-force directed oracle over seeded random corpora at tau in " +
      "{0.999, 1.0, 0.8, 0.5, 0.2} — the rarest-k pigeonhole loses nothing") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815)
    // 60 docs over a 120-element universe: dense regime, heavy overlap,
    // sizes 3..40 (k = n - ceil(tau n) + 1 varies per row), plus planted
    // exact copies (containment 1.0 both ways) and strict subsets
    val base = (0L until 60L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(38))(s"e${rnd.nextInt(120)}").distinct
    }
    val planted = Seq(
      60L -> base(5)._2,                    // exact copy of 5
      61L -> base(7)._2.take(4),            // strict subset of 7
      62L -> (base(9)._2 ++ Seq("zX1", "zX2"))) // superset of 9
    val sets = base ++ planted
    val docs = sets.toDF("doc_id", "sh")
    val (els, dict) = graft.operators.DenseJaccard.buildDict(docs, "sh")
    // pid = doc_id directly (no group collapse): oracle is pair-exact
    val bms = graft.operators.DenseJaccard.bitmaps(
      docs, "doc_id", "sh", dict, els.length, None)
    val m = sets.map { case (id, ss) => id -> ss.toSet }.toMap
    for (tau <- Seq(0.999, 1.0, 0.8, 0.5, 0.2)) {
      val tm = PpJoin.tauMicros(tau)
      val got = graft.operators.DenseJaccard.containPairs(bms, tm)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (ia, sa) <- m.toSeq; (ib, sb) <- m.toSeq
        if ia != ib && sa.nonEmpty
        // the operator's exact integer test, replayed on raw sets
        // (hash collisions impossible at this corpus size in practice)
        if sa.intersect(sb).size.toLong * 1000000L >= tm * sa.size
      } yield (ia, ib)).toSet
      assert(got == want,
        s"tau=$tau: missing=${want -- got} extra=${got -- want}")
    }
  }

test("dense selfPairs + crossPairs (r10 index-prefix postings): EXACT " +
      "equality with brute-force J oracles over the same seeded corpora — " +
      "the prefix-prefix lemma (and >= tau*max(na,nb)) loses nothing") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val base = (0L until 60L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(38))(s"e${rnd.nextInt(120)}").distinct
    }
    val planted = Seq(
      60L -> base(5)._2,                          // exact copy (J = 1)
      61L -> (base(7)._2 ++ Seq("zQ")),            // near-copy
      62L -> base(9)._2.drop(1))                   // near-copy, shorter
    val sets = base ++ planted
    val docs = sets.toDF("doc_id", "sh")
    val (els, dict) = graft.operators.DenseJaccard.buildDict(docs, "sh")
    val bms = graft.operators.DenseJaccard.bitmaps(
      docs, "doc_id", "sh", dict, els.length, None)
    val m = sets.map { case (id, ss) => id -> ss.toSet }.toMap
    def jOk(sa: Set[String], sb: Set[String], tm: Long): Boolean = {
      val and = sa.intersect(sb).size.toLong
      and * (1000000L + tm) >= tm * (sa.size.toLong + sb.size)
    }
    for (tau <- Seq(1.0, 0.8, 0.5, 0.3)) {
      val tm = PpJoin.tauMicros(tau)
      val self = graft.operators.DenseJaccard.selfPairs(bms, tm)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val wantSelf = (for {
        (ia, sa) <- m.toSeq; (ib, sb) <- m.toSeq
        if ia < ib && jOk(sa, sb, tm)
      } yield (ia, ib)).toSet
      assert(self == wantSelf,
        s"selfPairs tau=$tau: missing=${wantSelf -- self} extra=${self -- wantSelf}")
      // cross: probe = even ids (driver-held, as the probe holds its
      // batch), corpus = odd ids
      val probe = bms.filter(col("pid") % 2 === 0).as[(Long, Int, Array[Byte])].collect().toSeq
      val corpus = bms.filter(col("pid") % 2 === 1)
      val cross = graft.operators.DenseJaccard.crossPairs(probe, corpus, tm)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val wantCross = (for {
        (ia, sa) <- m.toSeq if ia % 2 == 0
        (ib, sb) <- m.toSeq if ib % 2 == 1
        if jOk(sa, sb, tm)
      } yield (ia, ib)).toSet
      assert(cross == wantCross,
        s"crossPairs tau=$tau: missing=${wantCross -- cross} extra=${cross -- wantCross}")
    }
  }

test("DedupIndex sparse mode: a large-vocabulary corpus builds postings, " +
      "appends under the frozen order, and probes O(batch) with parity") {
    import spark.implicits._
    // vocabulary >> MaxUniverseBits so the index commits mode=sparse:
    // every doc carries 40 tokens from a 200k-word space + planted dups
    def mkText(id: Long, base: Option[Long]): String = {
      val seedRnd = new scala.util.Random(base.getOrElse(id) * 7919)
      def word() = Seq.fill(8)(('a' + seedRnd.nextInt(26)).toChar).mkString
      val toks = Seq.fill(40)(word())
      // near-dup: perturb 4 tokens off the base
      if (base.isDefined) toks.drop(4).mkString(" ") + " zz" + id
      else toks.mkString(" ")
    }
    val existing = ((0L until 300L).map(i => (i, mkText(i, None))) ++
      Seq((900L, mkText(900L, Some(5L))))) // near-dup of doc 5 in corpus
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1001L, mkText(1001L, Some(7L))),  // near-dup of corpus doc 7
      (1002L, mkText(7L, None)),         // EXACT dup of corpus doc 7
      (1003L, mkText(1003L, None))       // fresh
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_sparse_idx").toString
    val idx = graft.index.DedupIndex.build(existing, s"$dir/idx")
    assert(idx.mode == "sparse", s"vocab should force sparse mode: ${idx.mode}")
    val direct = DedupQueries.dedupNearIncremental(existing, incoming)
      .collect().map(_.toString).toSeq
    val probed = idx.probe(existing, incoming)
      .collect().map(_.toString).toSeq
    assert(probed == direct, "persisted sparse probe must equal the direct operator")
    val hit = idx.probe(existing, incoming).collect()
      .map(r => r.getLong(0) -> !r.isNullAt(1)).toMap
    assert(hit(1002L), "exact dup must match")
    assert(hit(1001L), "near dup must match")
    assert(!hit(1003L), "fresh doc must not match")
    // append new docs; a fresh batch matching THEM must now hit
    val appended = Seq((2000L, mkText(2000L, None))).toDF("doc_id", "text")
    idx.append(appended)
    val all = existing.unionByName(appended)
    val batch2 = Seq((3000L, mkText(2000L, None))).toDF("doc_id", "text")
    val hit2 = idx.probe(all, batch2).collect()
      .map(r => r.getLong(0) -> Option(if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(hit2(3000L).contains(2000L), s"appended doc must be probeable: $hit2")
  }
}