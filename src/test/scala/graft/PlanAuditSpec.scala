package graft

import graft.queries.{AnnQueries, Queries}

/**
 * Physical-plan audit: the scale properties SURVEY §4 promises must be
 * visible in the executed plan, not just intended. A regression that
 * silently drops a pushdown or turns a broadcast into a shuffle fails
 * here, not in production.
 */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("brute-force ANN: TakeOrderedAndProject with a broadcast query vector") {
    val p = plan("ann_dot_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be per-partition heaps + driver merge, not a global sort")
    assert(p.contains("BroadcastNestedLoopJoin"), "the 1-row query side must broadcast")
  }

  test("ann_filtered: label predicate pushed to the parquet scan; top-k is TakeOrdered") {
    val p = plan("ann_filtered")
    assert(p.contains("PushedFilters: [IsNotNull(label), EqualTo(label,3)]") ||
      p.contains("EqualTo(label,3)"),
      s"the metadata filter must reach the scan (pre-filter regime):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "filtered top-k must be per-partition heaps, not a global sort")
  }

  test("ann_bq_topk: hamming cut is TakeOrdered per-partition heaps, no corpus shuffle") {
    val p = plan("ann_bq_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "the refine cut must be per-partition heaps + driver merge, not a global sort")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the candidate path must not shuffle the corpus:\n$p")
  }

  test("text_classify: one map-side codegen pass — no shuffle, no UDF") {
    val p = plan("text_classify")
    assert(!p.contains("Exchange hashpartitioning"),
      "classifier inference is per-row math; nothing may shuffle by key")
    assert(p.contains("hash_embed") && p.contains("vec_dot"),
      s"expected the native kernels in:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "inference must be codegen'd kernels, not UDFs")
    // the only exchange allowed is the presentation sort's range
    // partitioning; scoring itself is embarrassingly parallel
    assert(p.contains("FileScan parquet") && p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must read only (doc_id, text)")
  }

  test("ann_hybrid: both arms end in TakeOrdered; fusion joins tiny frames") {
    val p = plan("ann_hybrid")
    assert(p.contains("TakeOrderedAndProject"),
      "the vector arm's top-nCand must be per-partition heaps, not a global sort")
    // the two ≤50-row ranked arms meet in a join; neither may drag the
    // corpus through it (the corpus-sized frames end at the arms' top-N)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), s"expected an arm-fusion join in:\n$p")
    // rank windows run on the post-limit candidate frames only: every
    // Window in the plan must sit above a Limit/TakeOrdered subtree
    assert(p.contains("GlobalLimit") || p.contains("TakeOrderedAndProject"))
  }

  test("batch kNN join broadcasts the query batch, never shuffles the corpus " +
      "or the scored frame") {
    val p = plan("ann_knn_join")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    assert(!p.contains("Exchange hashpartitioning(vec_id"),
      "corpus must not shuffle for a broadcastable query batch")
    // the per-query top-k must be a partial-capable aggregate (k-heap
    // per map task), NOT a window: a window's Exchange moves every
    // scored row, the aggregate's moves #partitions × #queries × k
    assert(!p.contains("Window"), "top-k must not be a window over the scored frame")
    assert(p.contains("ObjectHashAggregate") && p.contains("vec_topk"),
      s"expected partial vec_topk aggregation in:\n$p")
    // the exchange on query_id must sit ABOVE a partial aggregate:
    // plans print root-first, so the partial agg (the map side) must
    // appear AFTER the exchange line in the text
    val finalPlan = p.split("== Initial Plan ==").head
    val ex = finalPlan.indexOf("Exchange hashpartitioning(query_id")
    assert(ex >= 0, s"expected a query_id exchange in:\n$finalPlan")
    assert(finalPlan.indexOf("ObjectHashAggregate", ex) >= 0,
      "the query_id exchange must carry partial-aggregated k-heaps, " +
        "not the full scored frame")
  }

  test("text_bm25: top-k is TakeOrdered and the term filter runs in the scan stage") {
    val df = graft.SparkEntry.queries("text_bm25")(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      "the k cut must be per-partition heaps, not a global sort")
    // the query-term filter must sit BELOW the deepest exchange — only
    // matching (doc_id, term) rows may shuffle, never the exploded
    // corpus. Plans print root-first, so the map side of the first
    // shuffle is the text AFTER the last Exchange line.
    val finalPlan = p.split("== Initial Plan ==").head
    val lastExchange = finalPlan.lastIndexOf("Exchange hashpartitioning")
    assert(lastExchange >= 0, s"expected a hash exchange in:\n$finalPlan")
    // two query-term literals, not just "spark" (which could be a path)
    val mapSide = finalPlan.substring(lastExchange)
    assert(mapSide.contains("FileScan") && mapSide.contains("Filter") &&
      mapSide.contains("spark") && mapSide.contains("vector"),
      s"term filter must run map-side, in the scan stage:\n$finalPlan")
  }

  test("dedup_exact: partial aggregation and only (doc_id, text) read") {
    val p = plan("dedup_exact")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("lang") && !p.contains("source"),
      "unused document columns must be pruned from the scan")
  }

  test("events queries prune the props payload column") {
    assert(!plan("q_events").contains("props"))
  }

  test("text_profile computes every signal in one scan, no shuffle before the sort") {
    val df = graft.SparkEntry.queries("text_profile")(spark, sfDir)
    df.collect() // finalize the adaptive plan first
    val full = df.queryExecution.executedPlan.toString
    // AQE prints "== Final Plan ==" followed by "== Initial Plan ==";
    // audit only the plan that actually ran
    val p = full.split("== Initial Plan ==")(0)
    assert(p.sliding("FileScan".length).count(_ == "FileScan") == 1,
      "all 8 profile signals must share ONE scan of documents")
    assert(!p.contains("Exchange hashpartitioning"),
      "per-row signal math must not introduce a hash shuffle")
    // every Project must carry the *(n) codegen marker — an un-starred
    // Project means some expression (e.g. a HOF lambda) fell back to
    // interpreted eval and evicted the stage from whole-stage codegen
    val unstarred = p.split("\n").filter(l => l.contains("- Project ") && !l.contains("*("))
    assert(unstarred.isEmpty,
      s"profile math must be codegen-fused; interpreted Project(s):\n${unstarred.mkString("\n")}")
  }

  test("q_sessionize: both windows and the session agg share ONE user_id shuffle") {
    val df = graft.SparkEntry.queries("q_sessionize")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1,
      s"lag window, running sum, and session groupBy must reuse one shuffle, saw $shuffles:\n$p")
  }

  test("q_funnel: the whole funnel shares ONE user_id shuffle (windows + " +
      "per-user agg reuse the partitioning; no per-stage joins)") {
    val df = graft.SparkEntry.queries("q_funnel")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val userShuffles = p.split("\n")
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(userShuffles == 1,
      s"funnel must exchange events by user exactly once, saw $userShuffles:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"per-stage joins resurfaced in the funnel plan:\n$p")
  }

  test("similarity expressions run inside whole-stage codegen") {
    val df = graft.SparkEntry.queries("ann_cosine_topk")(spark, sfDir)
    df.collect() // finalize the adaptive plan first
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no WholeStageCodegen stage markers in:\n$p")
  }

  test("IVF probe scan carries partition filters (pruned I/O)") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_audit_ivf").toString + "/idx"
    val idx = graft.index.IvfIndex.build(corpus, dir, nLists = 4)
    val q = corpus.filter("vec_id = 0").head().getSeq[Float](1).toArray
    val p = idx.probeScan(q, nProbe = 2).queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("list#"))
  }

  test("registered ann_ivf query probes the persisted index with partition pruning") {
    val df = graft.SparkEntry.queries("ann_ivf")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("list#"),
      s"ann_ivf must scan the hive-partitioned index with list pruning:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("filtered ANN on a label-partitioned corpus prunes PARTITIONS, not just rows") {
    import org.apache.spark.sql.functions.input_file_name
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_audit_flt").toString + "/emb_by_label"
    emb.write.partitionBy("label").parquet(dir)
    val part = spark.read.parquet(dir)
    val qvec = emb.filter("vec_id = 0").head().getSeq[Float](1)
    val df = graft.queries.AnnQueries.annFilteredPruned(part, qvec)
    val p = df.queryExecution.executedPlan.toString
    // the predicate must reach PartitionFilters (directory pruning at
    // planning time), not merely PushedFilters (row groups at scan time)
    assert(p.contains("PartitionFilters: [") && p.contains("label#"),
      s"label predicate must prune hive partitions:\n$p")
    // pruning is real end-to-end: every file the query touches is under
    // the label=3 directory
    val files = part.filter("label = 3").select(input_file_name().as("f"))
      .distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("label=3")),
      s"scan touched non-pruned files: ${files.filterNot(_.contains("label=3")).mkString(", ")}")
    // identical answer to the unpartitioned pre-filter path
    val want = graft.queries.AnnQueries.annFiltered(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val got = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got == want, s"\ngot  $got\nwant $want")
  }

  test("multiple vector kernels in ONE codegen scope compile (no interpreter fallback)") {
    // two+ kernels in a single projection used to collide on generated
    // local names, fail Janino, and silently drop to interpreted eval
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val ref = BoundReference(0, ArrayType(FloatType), nullable = true)
    val proj = GenerateUnsafeProjection.generate(Seq(
      graft.functions.VectorDot(graft.functions.VectorNormalize(ref),
        graft.functions.VectorNormalize(ref)),
      graft.functions.VectorCosine(ref, ref),
      graft.functions.VectorNorm(ref),
      graft.functions.VectorL2Sq(ref, ref)))
    assert(proj != null)
  }

  test("dedup_substring: windows shuffle as fingerprints, never window text; no self-join") {
    val p = plan("dedup_substring")
    // both wide ops key on the 128-bit fingerprint / doc_id — the
    // window TEXT exists only map-side, below the first exchange
    assert(p.contains("hashpartitioning(fp1"), "duplication count must key on fp128")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "no quadratic join anywhere in the substring pipeline")
    // the exploded window frame appears once: duplication is a count
    // window, not a groupBy + re-join against a second expansion
    val explodes = "\\bGenerate explode".r.findAllIn(p).size
    assert(explodes == 1, s"window expansion must run once, saw $explodes:\n$p")
  }

  test("minhash candidate generation shuffles sketch rows and ids, never " +
      "document text (r7: adaptive dense-bitmap / prefix-posting regimes)") {
    val p = plan("dedup_minhash")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan should read exactly (doc_id, text)")
    // "text never shuffles", asserted on the plan itself: no Exchange
    // operator may carry the text column or a shingle-set column
    val dirty = p.split("\n").filter(l =>
      l.contains("Exchange") && (l.contains("text#") || l.contains("sh#")))
    assert(dirty.isEmpty,
      s"text/sets entered an Exchange:\n${dirty.mkString("\n")}")
  }

  test("text_c4: one scan, c4_stats kernel in the projection, no hash shuffle") {
    val p = plan("text_c4")
    assert(p.contains("c4_stats"), "signals must come from the native kernel")
    assert(!p.contains("Exchange hashpartitioning"),
      "the cleaning transform is map-side; only the presentation sort may exchange")
    assert("FileScan parquet".r.findAllIn(p).size == 1, "exactly one corpus scan")
  }

  test("text_ptile: text scanned once (shared exchange), rank windows by " +
      "(lang, score) tie class, histogram broadcasts back") {
    // r6: operator-internal persist is opt-in; the single-shot query now
    // shares the expensive scoring scan between the rank and histogram
    // arms via AQE stage reuse — visible only in the FINAL plan, so run it
    val df = graft.SparkEntry.queries("text_ptile")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"),
      "histogram arm must reuse the rank arm's exchange, not re-scan text")
    assert(p.sliding("FileScan".length).count(_ == "FileScan") == 1,
      "both consumers must share ONE scan of documents")
    assert("row_number\\(\\) windowspecdefinition\\(lang#\\d+, quality_milli".r
      .findFirstIn(p).isDefined,
      "the corpus rank must partition by (lang, score) — histogram-many balanced " +
        "partitions — never by language alone")
    assert(p.contains("BroadcastHashJoin"),
      "per-(lang, score) slots must broadcast onto the ranked frame")
  }

  test("q_shard: rank windows by hash bucket (never shard alone), offsets " +
      "broadcast, text never read") {
    val p = plan("q_shard")
    assert("row_number\\(\\) windowspecdefinition\\(bucket#\\d+,".r
      .findFirstIn(p).isDefined,
      "in-shard rank must run inside 256 balanced bucket partitions")
    assert(!"row_number\\(\\) windowspecdefinition\\(shard#\\d+,".r
      .findFirstIn(p).isDefined,
      "never one giant window per shard")
    assert(p.contains("BroadcastHashJoin"), "bucket offsets must broadcast")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      "the scan must read only doc_id — position assignment never touches text")
  }

  test("text_bigram: bigram counts are a window over the transition frame, " +
      "not a groupBy re-join; unigrams broadcast") {
    val p = plan("text_bigram")
    assert("windowspecdefinition\\(w1#\\d+, w2#\\d+".r.findFirstIn(p).isDefined,
      "c(w1,w2) must be a count window on the (w1,w2)-partitioned transitions")
    assert(p.contains("BroadcastHashJoin"),
      "vocab-bounded unigram counts must broadcast onto the scored frame")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-scale shuffle join anywhere in the rescore")
  }

  test("dedup_lines: counting shuffles fingerprints only; the rebuild is an " +
      "in-row O(1) hash-set probe, not a broadcast array scan") {
    val p = plan("dedup_lines")
    assert(p.contains("pair_set_contains"),
      "the rebuild must probe the LongPairSet expression (O(1)/line)")
    assert(!p.contains("collect_list"),
      "no one-row collect_list dictionary may appear in the plan")
    assert(!p.contains("array_contains"),
      "no O(|dict|) array_contains scan may appear in the plan")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Join"),
      "the set-probe path has no join at all — the set rides the closure")
    // the only exchange that may carry document content is the final
    // presentation sort (rangepartitioning on doc_id)
    val hashExchanges = "Exchange hashpartitioning\\([^)]*".r.findAllIn(p).toList
    assert(hashExchanges.forall(e => !e.contains("lns") && !e.contains("text")
      && !e.contains("kept") && !e.contains("cleaned")),
      s"no hash exchange may carry line text:\n$hashExchanges")
  }

  test("q_pipeline: dedup shuffles the fingerprint projection, never text; " +
      "shard rank stays bucket-partitioned") {
    val p = plan("q_pipeline")
    val hashExchanges = "Exchange hashpartitioning\\([^)]*".r.findAllIn(p).toList
    assert(hashExchanges.forall(!_.contains("text")),
      s"no hash exchange may carry document text:\n$hashExchanges")
    assert("row_number\\(\\) windowspecdefinition\\(bucket#\\d+,".r
      .findFirstIn(p).isDefined,
      "the shard rank must run inside bucket partitions, as in q_shard")
    assert(p.contains("BroadcastHashJoin"), "bucket offsets must broadcast")
  }

  test("emb_pca: two partial-aggregate passes + a map-side projection; " +
      "the corpus never collects") {
    val p = plan("emb_pca")
    assert(p.contains("project_micro"),
      "the scoring pass must be the native projection kernel")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"),
      "projection is a pure map over the scan — no wide operator in the plan")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding"),
      "one scan reading exactly (vec_id, embedding)")
  }

  test("audit/segmentation trio: no Window at all — unpartitioned or " +
      "low-cardinality-key windows over corpus/entity frames are the one " +
      "plan class that funnels 100 TB through single tasks (the r7 weak set)") {
    // qRfm: range-partitioned PrefixSum rank. All window machinery is
    // gone — the rank lives in a mapPartitions over a repartitionByRange
    // sort, and the offsets frame collects eagerly inside runningSum, so
    // any Window in the RETURNED plan is a regression.
    for (name <- Seq("q_rfm")) {
      val p = plan(name)
      assert(!p.contains("Window"),
        s"$name must not contain a Window operator (single-task sort risk):\n$p")
      assert(p.contains("MapPartitions"),
        s"$name should carry the PrefixSum partition-local scan:\n$p")
    }
  }
}
