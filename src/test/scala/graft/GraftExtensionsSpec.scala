package graft

import org.apache.spark.sql.SparkSession

/** Functions are injectable via SparkSessionExtensions (library mode). */
class GraftExtensionsSpec extends SparkSpec {

  test("a session built with GraftExtensions resolves graft functions from SQL") {
    val base = spark // force shared-session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions()(_))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val r = s2.sql(
        """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
          |       simhash64(array('a','b')) AS sh,
          |       size(char_shingles('abcdef', 3)) AS ns
          |""".stripMargin).head()
      assert(r.getDouble(0) == 11.0)
      assert(r.getLong(1) != 0L)
      assert(r.getInt(2) == 4)

      // optimizer rule: cosine of normalized (non-foldable) inputs
      // rewrites to dot
      s2.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("emb_ext")
      val df = s2.sql(
        """SELECT vec_id,
          |  vec_cosine(vec_normalize(embedding), vec_normalize(embedding)) AS c
          |FROM emb_ext""".stripMargin)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("vec_dot") && !optimized.contains("vec_cosine"),
        s"expected cosine->dot rewrite in:\n$optimized")
      assert(math.abs(df.orderBy("vec_id").head().getDouble(1) - 1.0) < 1e-6)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
  test("one search strategy registration for extension and ad-hoc sessions") {
    val base = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_ext_topk").toString
    graft.index.SemanticIndex.fromItems(base, base.range(0, 20).selectExpr("concat('doc ', id) AS item"))
      .save(dir)
    def count(s: SparkSession) =
      s.sessionState.planner.strategies.count(_ eq graft.plans.VectorTopKStrategy)
    /** Plans the operator, and still lists the strategy once after
      * registerAll runs again. */
    def check(s: SparkSession): Unit = {
      val idx = graft.index.SemanticIndex.load(s, dir)
      val plan = idx.searchText("doc 3", 2).queryExecution.executedPlan
      assert(plan.collect { case t: graft.plans.VectorTopKExec => t }.size == 1, plan)
      assert(idx.searchText("doc 3", 1).collect().head.getString(0) == "doc 3")
      graft.functions.registerAll(s)
      assert(count(s) == 1, s.sessionState.planner.strategies)
    }
    val sc = base.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // registerAll's ad-hoc install, as every graft main runs it
      val entry = SparkEntry.session("graft-ext-entry")
      assert(!(entry eq base))
      check(entry)
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      // the static conf is read from the context when a session is built
      org.apache.spark.SparkConfBridge.set(sc, "spark.sql.extensions", "graft.GraftExtensions")
      val ext = try SparkSession.builder().appName("graft-ext-conf").getOrCreate()
        finally org.apache.spark.SparkConfBridge.remove(sc, "spark.sql.extensions")
      assert(!(ext eq base) && !(ext eq entry))
      assert(count(ext) == 1 && ext.experimental.extraStrategies.isEmpty,
        "the extension, not registerAll, installs the strategy")
      check(ext)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("catalog parity: the extension surface and registerAll expose the " +
      "same function set, including the aggregate family") {
    val names = graft.functions.FunctionCatalog.all.map(_._1).toSet
    // every catalog function resolves in a registerAll session
    graft.functions.registerAll(spark)
    names.foreach { n =>
      assert(spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n)), s"missing: $n")
    }
    // the r7 additions that had drifted out of the extension surface
    assert(names.contains("kmv_bottomk") && names.contains("freq_candidates")
      && names.contains("vec_topk") && names.contains("tok_stats"))
  }
}