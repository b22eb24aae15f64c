package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.DedupRegime
import graft.queries.DedupQueries

/**
 * The density-aware regime router (r12 — r11 verdict #1b/#8): the
 * decision must be MEASURED (universe + rare-bit posting mass, not
 * universe alone), SURFACED (queryable without reading executed
 * plans), and the surfaced record must match the plan shape that
 * actually runs — on both a dense-routed and a sparse-routed corpus.
 */
class DedupRegimeSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), DedupQueries.charShingles(col("text"), 5).as("sh"))

  /** Small-vocabulary corpus: universe far under the cap, postings
    * short — the dense regime's home turf. */
  private lazy val denseDocs = docsOf((0L until 60L).map { i =>
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    i -> (0 until 12).map(j => words(((i + j) % words.length).toInt)).mkString(" ")
  })

  /** High-entropy corpus: every doc contributes fresh shingles, the
    * distinct-element universe overflows 32 Ki — must route sparse. */
  private lazy val sparseDocs = docsOf((0L until 600L).map { i =>
    val rnd = new scala.util.Random(i) // deterministic per doc
    i -> (0 until 40).map(_ => rnd.alphanumeric.take(10).mkString).mkString(" ")
  })

  test("dense-routed corpus: decision says dense and the executed plan " +
      "IS the bitmap scan (MapPartitions + dict_bitmap, no posting join)") {
    val cand = DedupQueries.prefixCandidatePairs(
      denseDocs, DedupQueries.collapseGroups(denseDocs, "sh"), "sh", 0.5)
    cand.collect()
    val d = DedupRegime.lastDecision(spark, "jaccard_pairs").get
    assert(d.regime == "dense", d.toString)
    assert(d.universeBits > 0 && d.universeBits <= (1 << 15), d.toString)
    assert(d.nDocs == 60L && d.prefixMassPerRow >= 0, d.toString)
    // the dense pair scan is the broadcast-side MapPartitions over
    // bitmap rows (the dict_bitmap projection itself constant-folds
    // into the local relation on an in-memory corpus)
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), s"dense scan expected:\n$plan")
    assert(!plan.contains("posexplode"), s"no posting join expected:\n$plan")
  }

  test("sparse-routed corpus (universe past the cap): decision says " +
      "sparse and the executed plan IS the posting join") {
    val cand = DedupQueries.prefixCandidatePairs(
      sparseDocs, DedupQueries.collapseGroups(sparseDocs, "sh"), "sh", 0.5)
    cand.collect()
    val d = DedupRegime.lastDecision(spark, "jaccard_pairs").get
    assert(d.regime == "sparse", d.toString)
    assert(d.universeBits == -1, d.toString)
    assert(d.reason.contains("universe exceeds"), d.toString)
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("posexplode"), s"posting join expected:\n$plan")
    assert(!plan.contains("dict_bitmap"), s"no bitmap scan expected:\n$plan")
  }

  test("saturated dense corpus: the mass meter flags it (visits/row past " +
      "the factor), the decision says so, dense stays (self-join " +
      "output-bound rationale), and the force conf flips the engine") {
    // every doc shares most of a tiny universe: posting mass/row ≈ nDocs
    val sat = docsOf((0L until 300L).map { i =>
      val words = Seq("aa", "bb", "cc", "dd", "ee")
      i -> (0 until 10).map(j => words(((i + j) % words.length).toInt)).mkString(" ")
    })
    val groups = DedupQueries.collapseGroups(sat, "sh")
    spark.conf.set(DedupRegime.MassFactorConf, "50") // force the flag locally
    try {
      DedupQueries.prefixCandidatePairs(sat, groups, "sh", 0.5).collect()
      val d = DedupRegime.lastDecision(spark, "jaccard_pairs").get
      assert(d.saturated, d.toString)
      assert(d.regime == "dense", d.toString)
      assert(d.prefixMassPerRow > 50, d.toString)
      assert(d.reason.contains("despite saturation"), d.toString)
      // force override: the ladder's A/B lever
      spark.conf.set(DedupRegime.ForceConf, "sparse")
      val cand = DedupQueries.prefixCandidatePairs(sat, groups, "sh", 0.5)
      cand.collect()
      val forced = DedupRegime.lastDecision(spark, "jaccard_pairs").get
      assert(forced.regime == "sparse" && forced.reason.contains("forced"),
        forced.toString)
      assert(cand.queryExecution.executedPlan.toString.contains("posexplode"))
    } finally {
      spark.conf.unset(DedupRegime.ForceConf)
      spark.conf.unset(DedupRegime.MassFactorConf)
    }
  }

  test("routing is output-invariant: verified pairs identical dense vs " +
      "forced sparse on the same corpus") {
    val auto = DedupQueries.lshVerifiedPairs(denseDocs, "sh", 0.5)
      .collect().map(_.toString).sorted.toSeq
    spark.conf.set(DedupRegime.ForceConf, "sparse")
    try {
      val sparse = DedupQueries.lshVerifiedPairs(denseDocs, "sh", 0.5)
        .collect().map(_.toString).sorted.toSeq
      assert(auto == sparse, s"engines disagree: ${auto.size} vs ${sparse.size}")
      assert(auto.nonEmpty, "premise: the corpus has near-dup pairs")
    } finally spark.conf.unset(DedupRegime.ForceConf)
  }

  test("containment and the incremental probe surface their decisions " +
      "under their own op keys") {
    graft.queries.DedupQueries.dedupContainment(spark, sfDir).collect()
    val c = DedupRegime.lastDecision(spark, "containment")
    assert(c.exists(_.regime == "dense"), c.toString) // sf0.001 vocabulary is tiny
    val ex = (0L until 20L).map(i => i -> s"alpha beta gamma doc $i").toDF("doc_id", "text")
    val in = Seq(100L -> "alpha beta gamma doc 3").toDF("doc_id", "text")
    DedupQueries.dedupNearIncremental(ex, in).collect()
    assert(DedupRegime.lastDecision(spark, "near_incremental").isDefined)
  }

  test("the kNN-join survivor fetch records its plan-time regime") {
    graft.queries.AnnQueries.annKnnJoinBq(spark, sfDir,
      k = 3, nQueries = 2, refine = 50).collect()
    val d = DedupRegime.lastDecision(spark, "knn_fetch").get
    assert(d.regime == "literal_in", d.toString) // 2·50 ≤ 1000
    graft.queries.AnnQueries.annKnnJoinBq(spark, sfDir,
      k = 3, nQueries = 2, refine = 50, inLiteralMax = 10).collect()
    assert(DedupRegime.lastDecision(spark, "knn_fetch").get.regime
      == "broadcast_pairs")
  }

  // ---------------------------------------------------------------------
  // The banded third regime (r13): saturated-sparse corpora — universe
  // past the dense cap AND posting mass within a constant of all-pairs —
  // route to recall-traded pruners (banded MinHash / df-capped
  // postings); everything else keeps its exact engine.
  // ---------------------------------------------------------------------

  /** Saturated-sparse corpus: a hot pool of LONG tokens floods every
    * doc with high-df shingles (any τ-prefix must include them), while
    * per-doc unique tokens + boundary shingles push the universe past
    * the 32 Ki dictionary cap. Docs `0..19` have planted near-dup twins
    * at `100..119` (36 of 40 hot tokens shared, same order ⇒ J ≈ 0.8). */
  private lazy val saturatedDocs: DataFrame = {
    val hotPool = (0 until 400).map { t =>
      val r = new scala.util.Random(9000 + t)
      (0 until 20).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    def textOf(seed: Int, twinOf: Option[Int]): String = {
      val r = new scala.util.Random(twinOf.getOrElse(seed).toLong)
      val hot = (0 until 40).map(_ => hotPool(r.nextInt(400))).toArray
      twinOf.foreach { _ =>
        val rm = new scala.util.Random(seed + 5000L)
        (0 until 4).foreach(_ => hot(rm.nextInt(40)) = hotPool(rm.nextInt(400)))
      }
      val rq = new scala.util.Random(seed + 7000L)
      val uniq = (0 until 4).map(_ => rq.alphanumeric.take(20).mkString)
      (hot ++ uniq).mkString(" ")
    }
    docsOf((0L until 200L).map { i =>
      val twin = if (i >= 100 && i < 120) Some(i.toInt - 100) else None
      i -> textOf(i.toInt, twin)
    })
  }

  test("saturated-sparse corpus routes BANDED for jaccard_pairs; the " +
      "plan is the band join; verified output is a subset of the exact " +
      "(forced-sparse) answer with every planted twin found") {
    spark.conf.set(DedupRegime.MassFactorConf, "1000")
    try {
      val banded = DedupQueries.lshVerifiedPairs(saturatedDocs, "sh", 0.5)
      val bandedRows = banded.collect()
      val d = DedupRegime.lastDecision(spark, "jaccard_pairs").get
      assert(d.regime == "banded", d.toString)
      assert(d.universeBits == -1 && d.saturated, d.toString)
      assert(d.prefixMassPerRow > 1000, d.toString)
      assert(d.reason.contains("banded MinHash"), d.toString)
      // exact reference: the sparse PPJoin engine (complete candidates)
      spark.conf.set(DedupRegime.ForceConf, "sparse")
      val exact = DedupQueries.lshVerifiedPairs(saturatedDocs, "sh", 0.5)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.unset(DedupRegime.ForceConf)
      val bandedPairs = bandedRows.map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bandedPairs.subsetOf(exact),
        s"banded must be exact-precision: ${(bandedPairs -- exact).take(5)}")
      val planted = (0 until 20).map(i => (i.toLong, i + 100L)).toSet
      assert(planted.subsetOf(exact), "premise: twins are true tau-pairs")
      val missed = planted -- bandedPairs
      assert(missed.size <= 2,
        s"banded recall on J~0.8 twins must be ~1 (missed: $missed)")
      assert(exact.nonEmpty && bandedPairs.size >= (exact.size * 6) / 10,
        s"overall recall floor 0.6: ${bandedPairs.size}/${exact.size}")
    } finally {
      spark.conf.unset(DedupRegime.MassFactorConf)
      spark.conf.unset(DedupRegime.ForceConf)
    }
  }

  test("saturated-sparse containment routes df-capped (banded): planted " +
      "template instance found, output subset of exact, decision surfaced") {
    // planted containment: doc 300 = 10 of doc 0's hot tokens plus doc
    // 0's four UNIQUE tokens (a real fragment carries some of its
    // template's rare content) — containment(300 in 0) ≈ 1 at the
    // shingle grain, J tiny (|B| >> |A|): banded MinHash cannot see the
    // pair; the rare-element df-capped side must find it through the
    // shared df≈2 unique-token shingles
    val base = saturatedDocs
    val (tokens0, uniq0) = {
      val r = new scala.util.Random(0L)
      val hotPool = (0 until 400).map { t =>
        val rr = new scala.util.Random(9000 + t)
        (0 until 20).map(_ => ('a' + rr.nextInt(26)).toChar).mkString
      }
      val hot = (0 until 40).map(_ => hotPool(r.nextInt(400)))
      val rq = new scala.util.Random(0 + 7000L)
      (hot, (0 until 4).map(_ => rq.alphanumeric.take(20).mkString))
    }
    val contained = docsOf(Seq(
      300L -> (tokens0.take(10) ++ uniq0).mkString(" ")))
    val docs = base.unionByName(contained)
    spark.conf.set(DedupRegime.MassFactorConf, "100")
    try {
      val groups = DedupQueries.collapseGroups(docs, "sh")
      // drive through the containment routing (pick happens inside)
      val tm = graft.operators.PpJoin.tauMicros(0.8)
      val pick = DedupRegime.pick(spark, docs, "sh", 0.8, "containment")
      assert(pick.regime == "banded", pick.decision.toString)
      assert(pick.decision.reason.contains("df-capped"), pick.decision.toString)
      val hot = pick.hot.get
      val pfx = DedupQueries.repPostings(docs, groups, "sh", tm, hot)
      val full = DedupQueries.repPostings(docs, groups, "sh", 0L, hot)
      val capped = graft.operators.PpJoin
        .containPairsCapped(pfx, full, tm, DedupRegime.DefaultDfCap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = graft.operators.PpJoin.containPairs(pfx, full, tm)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped.subsetOf(exact), s"capped adds no candidates")
      assert(capped.contains((300L, 0L)),
        s"planted template instance must survive the df cap")
    } finally spark.conf.unset(DedupRegime.MassFactorConf)
  }

  test("the pick is memoized per (session, plan, op, tau): same frame " +
      "twice returns the same Pick instance; lastDecision still updates") {
    val p1 = DedupRegime.pick(spark, denseDocs, "sh", 0.5, "jaccard_pairs")
    DedupRegime.recordFetch(spark, "jaccard_pairs", "overwritten")
    val p2 = DedupRegime.pick(spark, denseDocs, "sh", 0.5, "jaccard_pairs")
    assert(p1 eq p2, "memo must return the cached Pick")
    val last = DedupRegime.lastDecision(spark, "jaccard_pairs").get
    assert(last.regime == p1.regime, "memo hit must re-record the decision")
    // a different tau is a different key
    val p3 = DedupRegime.pick(spark, denseDocs, "sh", 0.7, "jaccard_pairs")
    assert(!(p3 eq p1))
  }

  test("decisionsOf lists this session's decisions as a frame") {
    DedupQueries.prefixCandidatePairs(
      denseDocs, DedupQueries.collapseGroups(denseDocs, "sh"), "sh", 0.5)
    val rows = DedupRegime.decisionsOf(spark)
      .select("op", "regime").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.get("jaccard_pairs").contains("dense"), rows.toString)
  }

  test("dict_bitmap compiles inside a generated method that already declares i") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator, CodegenContext}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val dict = graft.operators.DenseJaccard.dictFromEls(Array(5L, 9L, 42L))
    val e = graft.functions.DictBitmap(BoundReference(0, ArrayType(LongType), nullable = true), dict, 1)
    val ctx = new CodegenContext
    ctx.INPUT_ROW = "row"
    val ev = e.genCode(ctx)
    // the kernel's code sits in a scope whose `i`, `out` and `idx` are
    // taken, as in a caller's generated loop
    val body =
      s"""public java.lang.Object generate(Object[] references) { return new Probe(references); }
         |public class Probe {
         |  private Object[] references;
         |  ${ctx.declareMutableStates()}
         |  public Probe(Object[] references) { this.references = references; ${ctx.initMutableStates()} }
         |  public byte[] eval(InternalRow row) {
         |    int i = 0; byte[] out = null; int idx = -1;
         |    ${ev.code}
         |    return ${ev.isNull} ? null : ${ev.value};
         |  }
         |  ${ctx.declareAddedFunctions()}
         |}""".stripMargin
    val (clazz, _) = CodeGenerator.compile(new CodeAndComment(body, ctx.getPlaceHolderToComments()))
    val probe = clazz.generate(ctx.references.toArray)
    val eval = probe.getClass.getMethod("eval", classOf[InternalRow])
    val bits = eval.invoke(probe, InternalRow(ArrayData.toArrayData(Array(42L, 7L, 5L))))
      .asInstanceOf[Array[Byte]]
    assert(bits.toSeq == Seq(5.toByte)) // dictionary slots 0 and 2
    assert(eval.invoke(probe, InternalRow(null)) == null)
  }
}
