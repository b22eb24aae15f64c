package graft

import org.apache.spark.sql.functions._

import graft.queries.DedupQueries

/** Near-dup operators on a constructed corpus with known duplicates. */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  // 0↔1 identical; 2↔3 near-dup (one word changed); 4 unrelated.
  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "spark executes queries with catalyst optimizer and tungsten engine today"),
    (3L, "spark executes queries with catalyst optimizer and tungsten engine tomorrow"),
    (4L, "completely different content about databases indexes and storage layers")
  ).toDF("doc_id", "text")

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("linesDedup removes corpus-frequent boilerplate lines, keeps unique " +
      "content, never reorders") {
    val boiler = "subscribe to our newsletter"
    val docs = Seq(
      (0L, s"alpha unique line one\n$boiler\nbeta unique line two"),
      (1L, s"$boiler\ngamma unique content here"),
      (2L, s"delta more unique text\n  $boiler  \nepsilon closing words"),
      (3L, "zeta entirely boilerplate free"),
      (4L, s"$boiler")) // nothing survives
      .toDF("doc_id", "text")
    val got = graft.queries.DedupQueries.linesDedup(docs, minOccur = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(0L) == (3L, 1L, "alpha unique line one\nbeta unique line two"),
      "boilerplate removed from the middle, order preserved")
    assert(got(1L) == (2L, 1L, "gamma unique content here"))
    assert(got(2L) == (3L, 1L, "delta more unique text\nepsilon closing words"),
      "padded occurrence strips to the same line and is removed")
    assert(got(3L) == (1L, 0L, "zeta entirely boilerplate free"))
    assert(got(4L) == (1L, 1L, ""), "all-boilerplate doc rebuilds empty")
    // below the threshold nothing is boilerplate
    val sparse = Seq((0L, s"$boiler\nx"), (1L, s"$boiler\ny")).toDF("doc_id", "text")
    val g2 = graft.queries.DedupQueries.linesDedup(sparse, minOccur = 3).collect()
    assert(g2.forall(_.getLong(2) == 0L), "2 occurrences < minOccur=3 -> kept")
  }

  test("linesDedup: over-cap dictionary degrades to the explode+join+regroup " +
      "path and produces IDENTICAL output to the set-probe path") {
    val boiler = "subscribe to our newsletter"
    val footer = "all rights reserved"
    val docs = Seq(
      (0L, s"alpha unique line one\n$boiler\nbeta unique line two\n$footer"),
      (1L, s"$boiler\ngamma unique content here"),
      (2L, s"delta more unique text\n  $boiler  \n$footer\nepsilon closing words"),
      (3L, "zeta entirely boilerplate free"),
      (4L, s"$boiler\n$footer"),
      (5L, "")) // empty document must survive both paths
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val fast = rows(graft.queries.DedupQueries.linesDedup(docs, minOccur = 2))
    // dictCap = 0 forces the join fallback (2 hot lines > cap)
    val slow = rows(graft.queries.DedupQueries.linesDedup(docs, minOccur = 2,
      dictCap = 0))
    assert(fast == slow, s"paths diverge:\nfast=$fast\nslow=$slow")
    assert(fast.exists { case (_, _, removed, _) => removed > 0 },
      "the corpus must actually exercise removal")
    assert(fast.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L, 5L),
      "every document, including the empty one, survives")
  }

  test("minhash signature: identical sets ⇒ identical signatures") {
    val sigs = corpus
      .select(col("doc_id"),
        DedupQueries.minhashSignature(DedupQueries.charShingles(col("text"), 5)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs(0L) != sigs(4L))
    // near-dups share most slots
    val shared = sigs(2L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(shared > 32, s"near-dup signatures share only $shared/64 slots")
  }

  test("minhash LSH finds exact and near dups, not unrelated pairs") {
    corpus.createOrReplaceTempView("documents")
    val dir = writeCorpus()
    val got = pairs(DedupQueries.dedupMinhash(spark, dir, tau = 0.5))
    assert(got.contains((0L, 1L)))
    assert(got.contains((2L, 3L)))
    assert(!got.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("simhash: identical docs at hamming 0; near-dups within 3; unrelated excluded") {
    val dir = writeCorpus()
    val got = DedupQueries.dedupSimhash(spark, dir, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Number](2).longValue)).toMap
    assert(got.get((0L, 1L)).contains(0L))
    assert(got.keySet.forall { case (a, b) => b != 4L && a != 4L })
  }

  test("word-bigram jaccard join scores exact dups 1.0") {
    val dir = writeCorpus()
    val got = DedupQueries.dedupJaccard(spark, dir, tau = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got((0L, 1L)) == 1.0)
    assert(got.get((2L, 3L)).exists(j => j > 0.5 && j < 1.0))
  }

  test("embedding-cosine near-dup recovers pairs planted by the spec") {
    import graft.functions._
    registerAll(spark)
    // the operator takes the corpus as-is, so the near-dups are planted
    // HERE: every 25th vector gets a slightly-perturbed copy at
    // vec_id + 100000 (cosine ≈ 0.9988 to its source)
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val perturbed = vec_normalize(
      transform(col("embedding"), (x, i) =>
        (x + when(i === pmod(col("vec_id"), lit(64)).cast("int"), lit(0.05f))
          .otherwise(lit(0.0f))).cast("float")))
    val planted = base.filter(pmod(col("vec_id"), lit(25)) === 0)
      .select((col("vec_id") + 100000).as("vec_id"), perturbed.as("embedding"))
    val corpus = base.unionByName(planted)
    val got = DedupQueries.cosinePairs(corpus, "vec_id", "embedding",
      tau = 0.95, bands = 2, bandBits = 8, dim = 64)
    val ps = got.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ps.nonEmpty)
    // planted pairs are (v, v+100000); every reported pair must be one
    assert(ps.forall { case (a, b) => b == a + 100000 })
    val cos = got.select("cosine").collect().map(_.getDouble(0))
    assert(cos.forall(c => c >= 0.95 && c <= 1.0))
  }

  test("dedupCosine over documents EQUALS the all-pairs scan (oracle soundness)") {
    import graft.functions._
    registerAll(spark)
    val got = DedupQueries.dedupCosine(spark, sfDir, tau = 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force scan over the same hash embeddings (500 docs)
    val emb = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), hash_embed(col("text"), 64).as("e"))
    val brute = emb.as("x").crossJoin(emb.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .filter(round(vec_cosine(col("x.e"), col("y.e")), 4) >= 0.95)
      .select(col("x.doc_id"), col("y.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "corpus should contain near-dup docs at cosine >= 0.95")
    // the DuckDB oracle (dedupCosineSql) asserts exact equality at the
    // gate scale, so the spec pins the same bar here: band recall on
    // this corpus is empirically 100 % and deterministic
    assert(got == brute,
      s"missed: ${brute.diff(got).take(5)} extra: ${got.diff(brute).take(5)}")
  }

  test("dedupCosine setup runs ONE driver action: mean and band sizing share a pass") {
    graft.functions.registerAll(spark)
    // listener events arrive asynchronously: drain the bus before the
    // counter is registered, read or reset, so it counts exactly the
    // executions in between and none left over from earlier work
    def drain(): Unit = org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
    @volatile var execs = 0
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        execs += 1
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    drain()
    spark.listenerManager.register(ql)
    try {
      // building the query runs the setup aggregation eagerly; a
      // separate count() for band sizing would be a SECOND execution.
      // r13: the mean pass is additionally MEMOIZED per (session,
      // corpus plan, dim), so on a warm session (an earlier test in
      // this suite touched the same corpus) the setup costs ZERO
      // executions — the pin is "at most one", plus "exactly one" on a
      // corpus frame this session has never metered
      DedupQueries.dedupCosine(spark, sfDir)
      drain()
      assert(execs <= 1, s"setup must be at most one scan of the corpus, saw $execs executions")
      execs = 0
      // a FRESH corpus plan (distinct filter) cannot hit the memo: the
      // single shared mean+count pass must run exactly once
      import org.apache.spark.sql.functions.col
      val fresh = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") >= 0)
        .select(col("doc_id").as("vec_id"),
          graft.functions.hash_embed(col("text"), 64).as("embedding"))
      DedupQueries.cosinePairs(fresh, "vec_id", "embedding", 0.95,
        bands = 16, dim = 64, minAutoBits = 12)
      drain()
      assert(execs == 1, s"cold setup must be one scan of the corpus, saw $execs executions")
    } finally spark.listenerManager.unregister(ql)
  }

  test("dedupCosineEmb recovers exact copies at 1.0 and near copies above tau") {
    val got = DedupQueries.dedupCosineEmb(spark, sfDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = got.filter { case ((a, b), _) => b == a + 1000000L }
    val near = got.filter { case ((a, b), _) => b == a + 2000000L }
    assert(exact.nonEmpty && exact.values.forall(_ == 1.0), exact.take(3))
    assert(near.nonEmpty && near.values.forall(c => c >= 0.95 && c < 1.0), near.take(3))
    // every reported pair involves a planted copy (the base table has no
    // natural pairs at 0.95) and is ordered id_a < id_b
    assert(got.keys.forall { case (a, b) => a < b && (b >= 1000000L || a >= 1000000L) })
  }

  test("hot cluster: candidates stay bounded and output is unchanged") {
    import spark.implicits._
    // 10% of the corpus is ONE identical document (a hot LSH band in
    // every band); the collapse must keep the candidate join tiny while
    // the output still contains every intra-cluster pair
    val hot = (0L until 100L).map(i => (i, "the same boilerplate header text repeated across the corpus"))
    val unique = (100L until 1000L).map(i =>
      (i, (0 until 12).map(j => s"tok${i}x$j").mkString(" ")))
    graft.functions.registerAll(spark)
    def shingled(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), DedupQueries.charShingles(col("text"), 5).as("sh"))
    val docs = shingled((hot ++ unique).toDF("doc_id", "text"))
    val groups = DedupQueries.collapseGroups(docs, "sh")
    assert(groups.count() == 901, "identical docs must collapse to one rep")
    // collapse invariance: the 100-copy hot cluster must contribute
    // EXACTLY the same candidate set as a single copy — zero extra
    // band-join work from duplication (without the collapse it alone
    // adds 4950 candidate pairs)
    def candSet(d: org.apache.spark.sql.DataFrame) =
      DedupQueries.candidatePairs(DedupQueries.collapseGroups(d, "sh"), 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = shingled((hot.take(1) ++ unique).toDF("doc_id", "text"))
    assert(candSet(docs) == candSet(one),
      "hot cluster must not add candidate pairs beyond a single copy")
    val out = DedupQueries.lshVerifiedPairs(docs, "sh", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val intraExpected = (for (a <- 0L until 100L; b <- a + 1 until 100L) yield (a, b)).toSet
    assert(intraExpected.subsetOf(out), "all intra-cluster pairs must be emitted")
  }

  test("dedupKeep edge input is linear in cluster size; no members arrays anywhere") {
    import spark.implicits._
    graft.functions.registerAll(spark)
    // one 10k-member exact-dup cluster: the full pair expansion would
    // feed ~50M intra pairs into the labeling; the star form is n-1
    val hot = (0L until 10000L).map(i =>
      (i, "the same boilerplate page body repeated verbatim across the crawl"))
    val unique = (10000L until 10050L).map(i =>
      (i, (0 until 12).map(j => s"tok${i}y$j").mkString(" ")))
    val docs = (hot ++ unique).toDF("doc_id", "text")
      .select(col("doc_id"), DedupQueries.charShingles(col("text"), 5).as("sh"))
    val edges = DedupQueries.dedupKeepEdges(docs, "sh", 0.5)
    val nEdges = edges.count()
    assert(nEdges >= 9999L && nEdges < 2L * 10050L,
      s"edge frame must stay O(n), got $nEdges")
    // and the labels over that edge set are the full-cluster labels
    val dir = java.nio.file.Files.createTempDirectory("graft_star").toString
    (hot ++ unique).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val labels = DedupQueries.dedupKeep(spark, dir)
      .filter(col("doc_id") < 10000).select("keep_id").distinct().collect()
    assert(labels.map(_.getLong(0)).toSeq == Seq(0L),
      "every hot-cluster member must resolve to keeper 0")
    // no single-row members aggregation may appear in any dedup plan
    val corpusDir = writeCorpus()
    for (df <- Seq(edges,
        DedupQueries.dedupMinhash(spark, corpusDir),
        DedupQueries.dedupSimhash(spark, corpusDir),
        DedupQueries.dedupCosineEmb(spark, sfDir))) {
      val plan = df.queryExecution.optimizedPlan.toString.toLowerCase
      assert(!plan.contains("collect_list"),
        "dedup plans must not aggregate unbounded members arrays")
    }
  }

  test("dedupKeep assigns cluster keepers, including transitive chains") {
    import spark.implicits._
    // 0=1 exact; 1~2 near (one word); 2~3 near — 0..3 one cluster via
    // transitivity even if 0 and 3 are not direct LSH candidates; 4 alone
    val chain = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta mu lambda"),
      (4L, "totally unrelated content about completely different things")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_keep").toString
    chain.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupQueries.dedupKeep(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L))
  }

  test("dedupKeep resolves a dup chain far longer than one round covers") {
    import spark.implicits._
    // sliding-window corpus: doc i = 10 consecutive words of a shared
    // random-word sequence, so docs within distance <= 3 have shingle
    // jaccard >= 0.5 (edges) and the whole 80-doc chain is ONE
    // component with graph diameter ~27 — beyond the 8-path coverage a
    // fixed 3-round propagation had, so this only passes because the
    // loop now runs until convergence under the raised cap
    val rnd = new scala.util.Random(42)
    val words = Vector.fill(90)((1 to 8).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val chain = (0 until 80).map(i => (i.toLong, words.slice(i, i + 10).mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_longchain").toString
    chain.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // maxDriverEdges = 0 forces the DISTRIBUTED hop+jump loop (the
    // adaptive driver union-find would otherwise absorb a graph this
    // small), so this exercises the convergence fix it was written for
    val got = DedupQueries.dedupKeep(spark, dir, maxDriverEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 80)
    assert(got.values.forall(_ == 0L),
      s"every doc must resolve to keeper 0, got keepers ${got.values.toSet}")
    // the adaptive driver path must produce the identical labeling
    val viaDriver = DedupQueries.dedupKeep(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == got)
  }

  test("empty sets and zero vectors never pair, even when identical") {
    import spark.implicits._
    graft.functions.registerAll(spark)
    // two docs shorter than the shingle width: identical EMPTY sets —
    // the naive formulation scores them 0/0 = null, not 1.0
    val shorties = Seq((0L, "ab"), (1L, "cd"), (2L, "a much longer normal document body here"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), DedupQueries.charShingles(col("text"), 5).as("sh"))
    val pairsOut = DedupQueries.lshVerifiedPairs(shorties, "sh", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsOut.isEmpty, s"empty shingle sets must not pair: $pairsOut")
    // two token-less docs: identical ZERO embeddings — exact cosine is
    // 0.0 (zero denominator), so no pair may be emitted
    val zeros = Seq((0L, "   "), (1L, "\t\t"), (2L, "real words in here")).toDF("doc_id", "text")
      .select(col("doc_id").as("vec_id"), graft.functions.hash_embed(col("text"), 64).as("embedding"))
    val cos = DedupQueries.cosinePairs(zeros, "vec_id", "embedding", tau = 0.5, dim = 64)
      .collect()
    assert(cos.isEmpty, s"zero vectors must not pair: ${cos.mkString(",")}")
  }

  test("cosinePairs on an empty corpus returns an empty frame, not an error") {
    import spark.implicits._
    graft.functions.registerAll(spark)
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    assert(DedupQueries.cosinePairs(empty, "vec_id", "embedding").count() == 0)
  }

  test("tok_chunks kernel: window boundaries, trailing partial, degenerate inputs") {
    import spark.implicits._
    graft.functions.registerAll(spark)
    val rows = Seq(
      (0L, "A b c d e"),   // 5 tokens, w=2 → 3 chunks, last partial; lowercased
      (1L, "one"),          // fewer tokens than w → one short chunk
      (2L, "   "),          // token-less → EMPTY array
      (3L, "")              // empty string → EMPTY array
    ).toDF("doc_id", "text")
    val got = rows.select(col("doc_id"), graft.functions.tok_chunks(col("text"), 2).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(0L) == Seq("a b", "c d", "e"))
    assert(got(1L) == Seq("one"))
    assert(got(2L).isEmpty)
    assert(got(3L).isEmpty)
  }

  test("dedupChunk scores per-doc duplicated-chunk fractions across the corpus") {
    import spark.implicits._
    val w10 = (i: Int) => (0 until 10).map(j => s"u${i}w$j").mkString(" ")
    // doc 0: 2 unique chunks; doc 1 repeats doc 0's FIRST chunk + 1 new
    // chunk; doc 2 = doc 0 verbatim (both chunks dup); doc 3 token-less;
    // doc 4 unique short (partial chunk only)
    val docs = Seq(
      (0L, w10(0) + " " + w10(1)),
      (1L, w10(0) + " " + w10(2)),
      (2L, w10(0) + " " + w10(1)),
      (3L, "   "),
      (4L, "tiny leftover words")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupQueries.dedupChunk(spark, dir, w = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got(0L) == ((2L, 0L, 0.0, true)))
    assert(got(1L) == ((2L, 1L, 0.5, true)))
    assert(got(2L) == ((2L, 2L, 1.0, false)))
    assert(got(3L) == ((0L, 0L, 0.0, true)))
    assert(got(4L) == ((1L, 0L, 0.0, true)))
  }

  test("jaccard helper is exact") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(DedupQueries.jaccard(col("x"), col("y"))).head().getDouble(0)
    assert(j == 0.5)
  }

  test("jaccard kernel equals the array_intersect / array_union formula it replaced") {
    graft.functions.registerAll(spark)
    import org.apache.spark.sql.{Column, DataFrame}
    def old(x: Column, y: Column) =
      size(array_intersect(x, y)).cast("double") / size(array_union(x, y)).cast("double")
    val rnd = new scala.util.Random(20261017L)
    // a small alphabet, so repeats inside one array and overlaps are common;
    // about one element in eight is null
    def strs(): Seq[String] = Seq.fill(rnd.nextInt(9))(
      if (rnd.nextInt(8) == 0) null else ('a' + rnd.nextInt(7)).toChar.toString)
    def longs(): Seq[java.lang.Long] = Seq.fill(rnd.nextInt(9))(
      if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(7) - 3L))
    // two empty sides have no union: they are pinned separately below
    val strRows = (Seq.fill(400)((strs(), strs())) ++ Seq(
      (Seq("a", "a", "b"), Seq("b", "b", "c")),   // repeats inside each array
      (Seq(null, "a"), Seq(null, null)),          // null is one shared element
      (Seq("a", "b"), Seq.empty[String]),         // one empty side
      (Seq.empty[String], Seq(null))))
      .filterNot { case (x, y) => x.isEmpty && y.isEmpty }
    val longRows = (Seq.fill(400)((longs(), longs())) ++ Seq(
      (Seq[java.lang.Long](1L, 1L, 2L), Seq[java.lang.Long](2L)),
      (Seq[java.lang.Long](null, 5L), Seq[java.lang.Long](null)),
      (Seq.empty[java.lang.Long], Seq[java.lang.Long](7L, 7L))))
      .filterNot { case (x, y) => x.isEmpty && y.isEmpty }
    val empty = Seq((Seq.empty[String], Seq.empty[String])).toDF("x", "y")
    val nulls = Seq((null.asInstanceOf[Seq[String]], Seq("a"))).toDF("x", "y")
    def conditions(f: => Any): Seq[String] =
      Iterator.iterate(intercept[Throwable](f))(_.getCause).takeWhile(_ != null)
        .collect { case t: org.apache.spark.SparkThrowable => t.getCondition }.toSeq
    val ansiKey = "spark.sql.ansi.enabled"
    val fallbackKey = "spark.sql.codegen.fallback"
    val ansi = spark.conf.get(ansiKey).toBoolean
    val fallback = spark.conf.get(fallbackKey)
    // a local frame is evaluated on the driver (interpreted); behind a
    // shuffle the kernel runs in whole-stage codegen, with no fallback
    for (prep <- Seq[DataFrame => DataFrame](identity, _.repartition(2))) {
      def both(df: DataFrame): Array[(Any, Any)] = prep(df)
        .select(round(DedupQueries.jaccard(col("x"), col("y")), 4),
          round(old(col("x"), col("y")), 4))
        .collect().map(r => (r.get(0), r.get(1)))
      spark.conf.set(fallbackKey, "false")
      try {
        for ((df, n) <- Seq(strRows.toDF("x", "y") -> strRows.length,
            longRows.toDF("x", "y") -> longRows.length)) {
          val got = both(df)
          assert(got.length == n)
          got.foreach { case (k, o) => assert(k == o, s"kernel $k, formula $o") }
        }
        // both sides empty: 0 / 0 is the ANSI divide-by-zero error, or
        // null without ANSI — the kernel does what the division did
        for (setting <- Seq(ansi, !ansi)) {
          spark.conf.set(ansiKey, setting.toString)
          try {
            if (setting) {
              assert(conditions(prep(empty).select(old(col("x"), col("y"))).collect())
                .contains("DIVIDE_BY_ZERO"))
              assert(conditions(prep(empty)
                .select(DedupQueries.jaccard(col("x"), col("y"))).collect())
                .contains("DIVIDE_BY_ZERO"))
            } else assert(both(empty).toSeq == Seq((null, null)))
          } finally spark.conf.set(ansiKey, ansi.toString)
        }
        // a null array has no set: null (the formula gave null under
        // ANSI, and 1.0 without it, through size(null) = -1)
        val (k, o) = both(nulls).head
        assert(k == null)
        if (ansi) assert(o == null)
      } finally spark.conf.set(fallbackKey, fallback)
    }
  }

  test("incremental dedup: verdicts for existing-dup, batch-dup, and fresh docs") {
    val existing = Seq(
      (0L, "alpha beta gamma"),
      (2L, "delta epsilon zeta")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "Alpha Beta Gamma  "), // dup of existing (normalization applies)
      (3L, "fresh new document"), // keep
      (5L, "fresh new document"), // dup within batch (3 < 5: first wins)
      (7L, "another fresh one")   // keep
    ).toDF("doc_id", "text")
    val got = DedupQueries.dedupIncremental(existing, incoming).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(got(1L) == ((true, false, false)))
    assert(got(3L) == ((false, false, true)))
    assert(got(5L) == ((false, true, false)))
    assert(got(7L) == ((false, false, true)))
    assert(got.size == 4, "every incoming doc gets a verdict")
  }

  test("near-incremental dedup: batch probes the corpus, not itself") {
    graft.functions.registerAll(spark)
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val existing = Seq(
      (0L, base),
      (2L, "completely different corpus content about spark shuffles and joins"),
      (4L, "") // empty shingle set in the CORPUS
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, base),                                  // exact set match → 1.0
      (3L, base.replace("today", "tonight")),      // near-dup of doc 0
      (5L, "fresh unrelated text with nothing in common whatsoever here"),
      (7L, "fresh unrelated text with nothing in common whatsoever here!"),
      // 5 and 7 are near-dups OF EACH OTHER — but the probe only
      // matches against the corpus, so both must come back clean
      (9L, ""),  // empty text shingles to {''} — an EXACT dup of doc 4
      (11L, null.asInstanceOf[String]) // null text: no set, never matches
    ).toDF("doc_id", "text")
    val rows = DedupQueries.dedupNearIncremental(existing, incoming).collect()
    val got = rows.map(r => r.getLong(0) ->
      ((Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(3)))).toMap
    assert(got(1L) == ((Some(0L), true)), got.toString)
    assert(got(3L)._2 && got(3L)._1.contains(0L), got.toString)
    assert(got(5L) == ((None, false)))
    assert(got(7L) == ((None, false)))
    // empty text shingles to the singleton {''} (the kernel's documented
    // short-input rule, mirrored by the oracle CTEs), so two empty docs
    // are EXACT duplicates — jaccard 1/1, matched by fingerprint alone
    assert(got(9L) == ((Some(4L), true)), got.toString)
    // null text produces NO set: it must neither match nor poison the
    // pipeline with a 0/0 (NaN) verify, which Spark sorts ABOVE any real
    // jaccard — the nonempty guard keeps it out of the bands entirely
    assert(got(11L) == ((None, false)), got.toString)
    // the exact-set match must carry jaccard exactly 1.0
    assert(rows.find(_.getLong(0) == 1L).get.getDouble(2) == 1.0)
  }

  test("DedupIndex: persisted probe equals the direct operator; append indexes new docs") {
    graft.functions.registerAll(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_dedupidx").toString
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val existing = Seq(
      (0L, base),
      (2L, "completely different corpus content about spark shuffles and joins")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, base.replace("today", "tonight")),       // near-dup of doc 0
      (3L, "a document about distributed matrix multiplication kernels"),
      (5L, "fresh unrelated text with nothing in common whatsoever here")
    ).toDF("doc_id", "text")

    val idx = graft.index.DedupIndex.build(existing, s"$dir/idx")
    assert(idx.count() == 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), r.getBoolean(3))).toSeq
    assert(rows(idx.probe(existing, incoming)) ==
      rows(DedupQueries.dedupNearIncremental(existing, incoming)),
      "persisted probe must equal the direct operator")

    // append a new corpus doc WITHOUT rebuilding: doc 3's near-dup now matches
    val extra = Seq((4L, "a document about distributed matrix multiplication engines"))
      .toDF("doc_id", "text")
    idx.append(extra)
    assert(idx.count() == 3)
    val after = graft.index.DedupIndex.load(spark, s"$dir/idx")
      .probe(existing.unionByName(extra), incoming)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(after(1L).contains(0L))
    assert(after(3L).contains(4L), s"appended doc must be probeable: $after")
    assert(after(5L).isEmpty)
  }

  test("DedupIndex.buildOrLoad reuses a committed index instead of colliding (fresh-JVM re-run)") {
    graft.functions.registerAll(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bol").toString
    val docs = Seq((0L, "alpha beta gamma delta words"),
      (2L, "totally different second document text")).toDF("doc_id", "text")
    val first = graft.index.DedupIndex.build(docs, s"$dir/idx")
    // a second build at the same path is what a NEW JVM's cold cache
    // does — plain build() must refuse (single-writer), buildOrLoad
    // must reuse the committed generation
    intercept[java.io.IOException] {
      graft.index.DedupIndex.build(docs, s"$dir/idx")
    }
    val again = graft.index.DedupIndex.buildOrLoad(docs, s"$dir/idx")
    assert(again.count() == first.count())
    // and on an empty path it builds from scratch
    val fresh = graft.index.DedupIndex.buildOrLoad(docs, s"$dir/idx2")
    assert(fresh.count() == 2)
  }

  test("DedupIndex.append with casRetries: two concurrent writers both " +
      "commit (the loser redoes its append against the winner's " +
      "snapshot); both batches end up probe-able") {
    graft.functions.registerAll(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cas").toString
    val idx = graft.index.DedupIndex.build(
      Seq((0L, "base corpus document about query planning and shuffles"))
        .toDF("doc_id", "text"), s"$dir/idx")
    val batchA = Seq((2L, "writer a appends this completely distinct body"))
      .toDF("doc_id", "text")
    val batchB = Seq((4L, "writer b appends another unrelated corpus text"))
      .toDF("doc_id", "text")
    // two writers race from the same committed snapshot; with CAS
    // retries BOTH must land (whoever loses the manifest rename redoes
    // its append against the winner's snapshot and commits next)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new Runnable {
        def run(): Unit = { barrier.await(); idx.append(batchA, casRetries = 3) }
      })
      val fb = pool.submit(new Runnable {
        def run(): Unit = { barrier.await(); idx.append(batchB, casRetries = 3) }
      })
      fa.get(120, java.util.concurrent.TimeUnit.SECONDS)
      fb.get(120, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    assert(idx.count() == 3, s"both appends must serve: ${idx.count()}")
    val corpus = Seq(
      (0L, "base corpus document about query planning and shuffles"),
      (2L, "writer a appends this completely distinct body"),
      (4L, "writer b appends another unrelated corpus text"))
      .toDF("doc_id", "text")
    val probe = Seq(
      (1L, "writer a appends this completely distinct body"),
      (3L, "writer b appends another unrelated corpus text"))
      .toDF("doc_id", "text")
    val got = idx.probe(corpus, probe).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L).contains(2L) && got(3L).contains(4L),
      s"both writers' batches must be probe-able: $got")
  }

  test("DedupIndex.compact merges append generations; probe results unchanged") {
    import spark.implicits._
    graft.functions.registerAll(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val t0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t1 = "one two three four five six seven eight nine ten eleven"
    val t2 = "spark shuffles partitions exchanges and broadcasts small tables"
    val idx = graft.index.DedupIndex.build(
      Seq((0L, t0), (2L, t1)).toDF("doc_id", "text"), s"$dir/idx")
    // three appends, two re-introducing already-indexed sets
    idx.append(Seq((4L, t0)).toDF("doc_id", "text"))
    idx.append(Seq((6L, t1), (8L, t2)).toDF("doc_id", "text"))
    idx.append(Seq((10L, t0)).toDF("doc_id", "text"))
    assert(idx.count() == 6, "each appended generation adds its own group row")

    val corpus = Seq((0L, t0), (2L, t1), (4L, t0), (6L, t1), (8L, t2), (10L, t0))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, t0),                                // exact dup (3 generations match)
      (3L, t2.replace("tables", "frames")),    // near-dup of the appended doc 8
      (5L, "nothing at all in common with the corpus whatsoever")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), r.getBoolean(3))).toSeq
    val before = rows(idx.probe(corpus, incoming))

    idx.compact()
    assert(idx.count() == 3, "compact must leave one group per distinct fingerprint")
    assert(idx.members.count() == 6, "compact must keep every member row")
    assert(rows(idx.probe(corpus, incoming)) == before,
      "probe results must be unchanged by compaction")
    // best match for the exact dup is still the smallest doc_id
    assert(before.find(_._1 == 1L).get._2.contains(0L))
  }

  test("dedupSubstring: offset-shifted runs, sub-L runs, split islands, adjacent merge") {
    import spark.implicits._
    val S = (0 until 25).map(i => s"s$i")      // the 25-token shared run
    val T = (0 until 19).map(i => s"t$i")      // sub-threshold (19 < L=20)
    val A = (0 until 20).map(i => s"a$i")      // two separate 20-token runs
    val B = (0 until 20).map(i => s"b$i")
    def u(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val docs = Seq(
      // run S at offset 5 here, offset 0 in doc 1 — a 20-token CHUNK
      // grid would never align these
      (0L, (u("f", 5) ++ S ++ u("g", 5)).mkString(" ")),
      (1L, (S ++ u("h", 10)).mkString(" ")),
      (2L, (u("i", 5) ++ T ++ u("j", 5)).mkString(" ")),
      (3L, (T ++ u("k", 11)).mkString(" ")),
      (4L, (A ++ u("m", 25) ++ B).mkString(" ")),   // gap > L → two islands
      (5L, (A ++ B).mkString(" ")))                 // adjacent → one island
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_substr").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val got = DedupQueries.dedupSubstring(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got(0L) == ((35L, 25L, 0.7143, false)), got(0L))
    assert(got(1L) == ((35L, 25L, 0.7143, false)), got(1L))
    assert(got(2L) == ((29L, 0L, 0.0, true)), got(2L))
    assert(got(3L) == ((30L, 0L, 0.0, true)), got(3L))
    assert(got(4L) == ((65L, 40L, 0.6154, false)), got(4L))
    assert(got(5L) == ((40L, 40L, 1.0, false)), got(5L))
  }

  test("DedupIndex commit protocol: uncommitted generations are invisible; compact GCs; changed-doc re-append refused") {
    import spark.implicits._
    graft.functions.registerAll(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_log").toString
    val t0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t1 = "one two three four five six seven eight nine ten eleven"
    val idx = graft.index.DedupIndex.build(
      Seq((0L, t0)).toDF("doc_id", "text"), s"$dir/idx")
    idx.append(Seq((2L, t1)).toDF("doc_id", "text"))
    assert(idx.count() == 2)

    // a crash AFTER writing a generation but BEFORE the manifest commit
    // leaves an orphan dir — readers must not see it
    val orphanG = Seq((99L, 1L, 2L)).toDF("rep", "fp1", "fp2")
    orphanG.write.parquet(s"$dir/idx/gen-000042-deadbeef/groups")
    orphanG.select(col("rep"), col("rep").as("doc_id"))
      .write.parquet(s"$dir/idx/gen-000042-deadbeef/members")
    assert(idx.count() == 2, "orphan generation must be invisible")
    assert(!idx.members.collect().map(_.getLong(1)).contains(99L))

    // generation names carry a nonce, so no two writers (or retries)
    // can ever share — let alone clobber — a committed directory
    val preGens = new java.io.File(s"$dir/idx").listFiles()
      .map(_.getName).filter(_.startsWith("gen-")).sorted.toSeq
    assert(preGens.forall(_.matches("gen-\\d{6}-[0-9a-f]{8}")),
      s"generation dirs must be uniquely named, saw $preGens")

    // compact commits ONE merged generation; the snapshot it supersedes
    // is RETAINED for one compact cycle (grace window — readers holding
    // lazy frames over the old paths must survive an overlapping
    // compact). A YOUNG never-committed dir survives the sweep too
    // (r12: it is indistinguishable from an in-flight CAS append's
    // stage — the r11 ADVICE hazard); the zero-mtime-grace vacuum
    // reclaims it as the known-dead crash orphan this test staged.
    idx.compact()
    assert(idx.count() == 2)
    val gensPost = new java.io.File(s"$dir/idx").listFiles()
      .map(_.getName).filter(_.startsWith("gen-")).sorted.toSeq
    assert(gensPost.size == 4 && gensPost.exists(_.startsWith("gen-000002-")),
      s"compact must keep the superseded snapshot (grace) + the merged gen " +
        s"+ the graced young orphan, saw $gensPost")
    assert(gensPost.contains("gen-000042-deadbeef"),
      s"a young uncommitted dir must survive compact's sweep, saw $gensPost")
    assert(idx.vacuum(graceManifests = 1, orphanGraceMs = 0)
      == Seq("gen-000042-deadbeef"))
    val gens = new java.io.File(s"$dir/idx").listFiles()
      .map(_.getName).filter(_.startsWith("gen-")).sorted.toSeq
    assert(gens.size == 3, s"$gens")

    // the NEXT compact retires the generations the previous one
    // superseded — grace is exactly one cycle
    idx.compact()
    assert(idx.count() == 2)
    val gens2 = new java.io.File(s"$dir/idx").listFiles()
      .map(_.getName).filter(_.startsWith("gen-")).sorted.toSeq
    assert(gens2.size == 2 && gens2.exists(_.startsWith("gen-000002-")) &&
      gens2.exists(_.startsWith("gen-000003-")),
      s"second compact must GC the first's superseded snapshot, saw $gens2")

    // doc 4 appended as a copy of t0 (its generation's rep), then
    // re-appended with CHANGED text: rep 4 now carries fp(t0) — whose
    // merged rep is 0 — AND the new fingerprint, whose merged rep is 4.
    // The member remap would fan out; compact must refuse instead.
    idx.append(Seq((4L, t0)).toDF("doc_id", "text"))
    idx.append(Seq((4L, "totally changed text under a recycled doc id"))
      .toDF("doc_id", "text"))
    val e = intercept[IllegalStateException](idx.compact())
    assert(e.getMessage.contains("append-only"), e.getMessage)
  }

  test("dedup_phrase pins the SPARSE engine under the gate: output equals " +
      "the dense route on the same corpus (regime equality) AND a " +
      "brute-force oracle on a planted corpus") {
    import spark.implicits._
    graft.functions.registerAll(spark)
    // regime equality ON THE GATE CORPUS: the forced-sparse registered
    // key and an unforced (dense-routed, universe fits) run of the same
    // pipeline must emit identical pairs
    val gateDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), DedupQueries.wordNgrams(col("text"), 5).as("ng"))
    val sparse = DedupQueries.dedupPhrase(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dense = DedupQueries.lshVerifiedPairs(gateDocs, "ng", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sparse == dense,
      s"regimes diverged: onlySparse=${sparse -- dense} onlyDense=${dense -- sparse}")
    // planted corpus: shared long passage -> phrase near-dup; word-level
    // paraphrase -> not
    val passage = "the quick brown fox jumps over the lazy dog near the river bank today"
    val rows = Seq(
      (0L, passage + " extra tail words here"),
      (1L, "intro words first " + passage),
      (2L, "totally different text about spark query engines and shuffles at scale with nothing shared"),
      (3L, "the quick red fox walks under a lazy cat near a creek bed yesterday morning"))
    val d = rows.toDF("doc_id", "text")
    val dir2 = java.nio.file.Files.createTempDirectory("graft_phrase").toString
    d.write.parquet(s"$dir2/documents.parquet")
    val got = DedupQueries.dedupPhrase(spark, dir2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force on word 5-gram sets at tau = 0.3
    def grams(t: String): Set[String] = {
      val toks = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) Set("")
      else (0 until math.max(toks.length - 4, 1))
        .map(i => toks.slice(i, i + 5).mkString(" ")).toSet
    }
    val m = rows.map { case (i, t) => i -> grams(t) }.toMap
    val want = (for {
      (a, sa) <- m.toSeq; (b, sb) <- m.toSeq if a < b
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= 0.3
    } yield (a, b)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(got.contains((0L, 1L)), "shared-passage pair must surface")
  }

  test("DedupIndex.vacuum: reclaims crash orphans without a compact (and " +
      "without its data rewrite); grace keeps the previous snapshot; " +
      "probe state bit-identical") {
    import spark.implicits._
    graft.functions.registerAll(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_vac").toString
    val t0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t1 = "one two three four five six seven eight nine ten eleven"
    val idx = graft.index.DedupIndex.build(
      Seq((0L, t0)).toDF("doc_id", "text"), s"$dir/idx")
    idx.append(Seq((2L, t1)).toDF("doc_id", "text"))
    val before = idx.members.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // a lost race / pre-commit crash leaves an orphan generation no
    // manifest references
    Seq((99L, 1L, 2L)).toDF("rep", "fp1", "fp2")
      .write.parquet(s"$dir/idx/gen-000042-deadbeef/groups")
    // young + never referenced could be an in-flight CAS append's
    // stage — the default mtime grace keeps it; zero grace reclaims
    assert(idx.vacuum() == Seq.empty, "young orphan must be graced")
    assert(idx.vacuum(orphanGraceMs = 0) == Seq("gen-000042-deadbeef"))
    // both committed generations survive (build + append — referenced
    // by the current manifest), and the resolved state is unchanged
    val gens = new java.io.File(s"$dir/idx").listFiles()
      .map(_.getName).filter(_.startsWith("gen-")).sorted.toSeq
    assert(gens.size == 2, s"$gens")
    assert(idx.members.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet == before, "vacuum changed the resolved members")

    // after compact the current manifest lists only the merged gen —
    // the two pre-compact gens are the superseded snapshot: default
    // grace keeps them (readers on the previous manifest), zero grace
    // reclaims them
    idx.compact()
    assert(idx.vacuum() == Seq.empty, "grace must keep the previous snapshot")
    val swept = idx.vacuum(graceManifests = 0)
    assert(swept == gens, s"$swept vs $gens")
    assert(idx.count() == 2)
  }

  private var cached: Option[String] = None
  private def writeCorpus(): String = cached.getOrElse {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    cached = Some(dir)
    dir
  }
  test("dedup_profile hand-computed: a planted 3-copy cluster and a pair show " +
      "up at their sizes; singletons carry the rest of the corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dprof").toString
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different content about distributed query engines"
    val docs = Seq(
      (0L, base), (1L, base), (2L, base),            // 3-cluster
      (3L, other), (4L, other),                      // pair
      (5L, "unique text one about nothing in particular with many words"),
      (6L, "another unique text concerning entirely separate topics here"))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.DedupQueries.dedupProfile(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(3L) == ((1L, 3L, math.floor(3.0 / 7 * 1e6 + 0.5) / 1e6)),
      s"3-cluster: $got")
    assert(got(2L) == ((1L, 2L, math.floor(2.0 / 7 * 1e6 + 0.5) / 1e6)),
      s"pair: $got")
    assert(got(1L) == ((2L, 2L, math.floor(2.0 / 7 * 1e6 + 0.5) / 1e6)),
      s"singletons: $got")
    assert(got.values.map(_._2).sum == 7L, "every doc accounted for")
  }
}
