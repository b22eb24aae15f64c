package graft

import org.apache.spark.sql.functions._

import graft.index._

/** The reference SemanticDatabase surface, re-expressed (SURVEY.md §2.1). */
class SemanticIndexSpec extends SparkSpec {

  import spark.implicits._

  private def items(xs: String*) = xs.toDF("item")

  test("fromItems + count + getAll + contains") {
    val idx = SemanticIndex.fromItems(spark, items("alpha beta", "gamma delta"))
    assert(idx.count() == 2)
    assert(idx.getAll().collect().map(_.getString(0)).sorted ===
      Array("alpha beta", "gamma delta"))
    assert(idx.contains("alpha beta"))
    assert(!idx.contains("nope"))
  }

  test("add honors DuplicateHandling.Allow / Update / Skip / Throw") {
    val base = SemanticIndex.fromItems(spark, items("a", "b"))

    val allow = new SemanticIndexOps(base, DuplicateHandling.Allow).add(items("a", "c"))
    assert(allow.count() == 4)

    val update = new SemanticIndexOps(base, DuplicateHandling.Update).add(items("a", "c"))
    assert(update.count() == 3)

    val skip = new SemanticIndexOps(base, DuplicateHandling.Skip).add(items("a", "c"))
    assert(skip.count() == 3)

    val ex = intercept[DuplicateItemException] {
      new SemanticIndexOps(base, DuplicateHandling.Throw).add(items("a", "c"))
    }
    assert(ex.getMessage.contains("a"))
  }

  /** Helper: rebuild an index with a different duplicate policy. */
  private class SemanticIndexOps(base: SemanticIndex, dh: DuplicateHandling) {
    private val idx = SemanticIndex.fromRecords(spark, base.records, base.embedder, dh)
    def add(items: org.apache.spark.sql.DataFrame): SemanticIndex = idx.add(items)
  }

  test("remove and clear") {
    val idx = SemanticIndex.fromItems(spark, items("a", "b", "c"))
    assert(idx.remove(items("b")).count() == 2)
    assert(idx.clear().count() == 0)
  }

  test("search returns itself first; searchFirst and searchText agree") {
    val idx = SemanticIndex.fromItems(spark,
      items("spark shuffle join", "parquet column scan", "window agg rollup"))
    val q = idx.embedder.embedOne("spark shuffle join")
    val top = idx.search(q, 2).collect()
    assert(top.head.getAs[String]("item") == "spark shuffle join")
    assert(top.head.getAs[Double]("score") > top(1).getAs[Double]("score"))
    assert(idx.searchFirst(q).contains("spark shuffle join"))
    val viaText = idx.searchText("spark shuffle join", 1).collect().head
    assert(viaText.getAs[String]("item") == "spark shuffle join")
  }

  test("searchMany: each query of a batch gets its own top-k from one scan") {
    val idx = SemanticIndex.fromItems(spark,
      items("spark shuffle join", "parquet column scan", "window agg rollup"))
    import spark.implicits._
    val queries = Seq(
      (1L, idx.embedder.embedOne("spark shuffle join").toSeq),
      (2L, idx.embedder.embedOne("window agg rollup").toSeq))
      .toDF("query_id", "qvec")
      .select(org.apache.spark.sql.functions.col("query_id"),
        org.apache.spark.sql.functions.col("qvec").cast("array<float>"))
    val got = idx.searchMany(queries, k = 2).collect()
    assert(got.count(_.getAs[Int]("rank") == 1) == 2)
    val top = got.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[String]("item")).toMap
    assert(top(1L) == "spark shuffle join")
    assert(top(2L) == "window agg rollup")
  }

  test("refreshEmbeddings reproduces identical embeddings (deterministic embedder)") {
    val idx = SemanticIndex.fromItems(spark, items("x y z", "p q r"))
    val before = idx.records.orderBy("item").collect().map(_.getSeq[Float](1))
    val after = idx.refreshEmbeddings().records.orderBy("item").collect()
      .map(_.getSeq[Float](1))
    assert(before === after)
  }

  test("parquet save/load and JSON save/load roundtrip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    val idx = SemanticIndex.fromItems(spark, items("one two", "three four"))
    idx.save(s"$dir/pq")
    assert(SemanticIndex.load(spark, s"$dir/pq").count() == 2)
    idx.saveJson(s"$dir/js")
    val back = SemanticIndex.loadJson(spark, s"$dir/js")
    assert(back.count() == 2)
    assert(back.records.columns.toSet == Set("item", "embedding"))
  }

  // ---------------------------------------------------------------------
  // Generic item type T (reference SemanticDatabase<T>)
  // ---------------------------------------------------------------------

  private def structItems(xs: (Long, String, Double)*) =
    xs.toDF("id", "name", "price").select(struct(col("id"), col("name"), col("price")).as("item"))

  test("struct items: fromItems, containsItems, remove by whole-item equality") {
    val idx = SemanticIndex.fromItems(spark,
      structItems((1L, "anvil", 9.5), (2L, "rope", 3.25)))
    assert(idx.count() == 2)
    assert(idx.containsItems(structItems((1L, "anvil", 9.5))))
    // any differing field breaks equality, like reference Item.Equals
    assert(!idx.containsItems(structItems((1L, "anvil", 9.99))))
    assert(idx.remove(structItems((2L, "rope", 3.25))).count() == 1)
  }

  test("struct items: duplicate handling incl. intra-batch semantics") {
    val base = SemanticIndex.fromRecords(spark,
      SemanticIndex.fromItems(spark, structItems((1L, "anvil", 9.5))).records,
      HashEmbedder(), DuplicateHandling.Update)
    // batch containing the same struct twice collapses to one record
    val updated = base.add(structItems((2L, "rope", 3.25), (2L, "rope", 3.25)))
    assert(updated.count() == 2)
    // Skip: the first copy wins, one record results
    val skip = SemanticIndex.fromRecords(spark, base.records, HashEmbedder(),
      DuplicateHandling.Skip).add(structItems((2L, "rope", 3.25), (2L, "rope", 3.25)))
    assert(skip.count() == 2)
    // Throw fires for an intra-batch duplicate even with no existing clash
    intercept[DuplicateItemException] {
      SemanticIndex.fromRecords(spark, base.records, HashEmbedder(),
        DuplicateHandling.Throw).add(structItems((2L, "rope", 3.25), (2L, "rope", 3.25)))
    }
    // Allow appends every copy
    val allow = SemanticIndex.fromRecords(spark, base.records, HashEmbedder(),
      DuplicateHandling.Allow).add(structItems((2L, "rope", 3.25), (2L, "rope", 3.25)))
    assert(allow.count() == 3)
  }

  test("string items: intra-batch duplicates follow sequential AddRange semantics") {
    val base = SemanticIndex.fromItems(spark, items("a"))
    assert(SemanticIndex.fromRecords(spark, base.records, HashEmbedder(),
      DuplicateHandling.Update).add(items("b", "b")).count() == 2)
    assert(SemanticIndex.fromRecords(spark, base.records, HashEmbedder(),
      DuplicateHandling.Skip).add(items("b", "b")).count() == 2)
    intercept[DuplicateItemException] {
      SemanticIndex.fromRecords(spark, base.records, HashEmbedder(),
        DuplicateHandling.Throw).add(items("b", "b"))
    }
  }

  test("searchObject works on a string-item index too") {
    val idx = SemanticIndex.fromItems(spark,
      items("spark shuffle join", "parquet column scan"))
    val top = idx.searchObject(items("parquet column scan"), 1).collect()
    assert(top.head.getAs[String]("item") == "parquet column scan")
  }

  test("struct items: searchObject finds the serialized item itself first") {
    val idx = SemanticIndex.fromItems(spark,
      structItems((1L, "anvil heavy iron tool", 9.5), (2L, "rope long fiber cord", 3.25),
        (3L, "dynamite explosive stick", 12.0)))
    val top = idx.searchObject(structItems((2L, "rope long fiber cord", 3.25)), 1).collect()
    assert(top.head.getStruct(0).getLong(0) == 2L)
    val first = idx.searchFirstItem(
      idx.embedder.embedOne(
        structItems((3L, "dynamite explosive stick", 12.0))
          .select(to_json(col("item"))).head().getString(0)))
    assert(first.map(_.asInstanceOf[org.apache.spark.sql.Row].getLong(0)).contains(3L))
  }

  test("saveJson writes ONE file holding ONE JSON array; loadJson reads it and pretty-printed variants") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    val idx = SemanticIndex.fromItems(spark, items("one two", "three four"))
    idx.saveJson(s"$dir/db.json")
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/db.json")), java.nio.charset.StandardCharsets.UTF_8)
    assert(raw.startsWith("[") && raw.endsWith("]"), "must be a single JSON array")
    assert(raw.contains("\"Item\"") && raw.contains("\"Embedding\""))
    val back = SemanticIndex.loadJson(spark, s"$dir/db.json")
    assert(back.count() == 2)
    assert(back.records.orderBy("item").collect().map(_.getString(0)).toSeq ==
      idx.records.orderBy("item").collect().map(_.getString(0)).toSeq)
    // a pretty-printed (multi-line) .NET-style export parses too
    val pretty = "[\n  {\n    \"Item\": \"five six\",\n    \"Embedding\": [0.5, 0.5]\n  }\n]"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/pretty.json"),
      pretty.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(SemanticIndex.loadJson(spark, s"$dir/pretty.json").count() == 1)
  }

  test("struct items: saveJson/loadJson roundtrip preserves the struct") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json_t").toString
    val idx = SemanticIndex.fromItems(spark, structItems((1L, "anvil", 9.5)))
    idx.saveJson(s"$dir/db.json")
    val back = SemanticIndex.loadJson(spark, s"$dir/db.json")
    assert(back.count() == 1)
    val item = back.records.head().getStruct(0)
    assert(item.getAs[Long]("id") == 1L && item.getAs[String]("name") == "anvil")
  }

  test("literal .NET-serialized SemanticRecord fixture: exact values load; drift is caught") {
    // byte-for-byte what System.Text.Json's DEFAULT SerializeAsync emits
    // for List<SemanticRecord<string>> (SemanticDatabase.cs:525,
    // SemanticRecord.cs:28–38): one compact array, PascalCase property
    // names in declaration order (Item, Embedding), shortest-round-trip
    // float literals, non-ASCII escaped as \\uXXXX. If loadJson stops
    // reading this exact shape, interop with reference-written files
    // is broken — this fixture is the tripwire.
    val fixture = """[{"Item":"hello world","Embedding":[0.25,-0.5,1,0]},""" +
      """{"Item":"café résumé","Embedding":[0,0.125,-1,0.75]}]"""
    val dir = java.nio.file.Files.createTempDirectory("graft_json_fix").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/dotnet.json"),
      fixture.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val back = SemanticIndex.loadJson(spark, s"$dir/dotnet.json")
    val rows = back.records.orderBy("item").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "café résumé", "\\uXXXX escapes must decode")
    assert(rows(0).getSeq[Float](1) == Seq(0f, 0.125f, -1f, 0.75f))
    assert(rows(1).getString(0) == "hello world")
    assert(rows(1).getSeq[Float](1) == Seq(0.25f, -0.5f, 1f, 0f))

    // generic T: a .NET record item serializes as a nested object
    val structFixture = """[{"Item":{"Id":7,"Name":"anvil"},"Embedding":[1,0]}]"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/dotnet_t.json"),
      structFixture.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val backT = SemanticIndex.loadJson(spark, s"$dir/dotnet_t.json")
    val item = backT.records.head().getStruct(0)
    assert(item.getAs[Long]("Id") == 7L && item.getAs[String]("Name") == "anvil")

    // and the shape we WRITE is the shape .NET reads back: every record
    // carries "Item" before "Embedding" (declaration order), one array
    val out = s"$dir/ours.json"
    back.saveJson(out)
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out)), java.nio.charset.StandardCharsets.UTF_8)
    assert(raw.startsWith("[{") && raw.endsWith("}]"))
    val recs = raw.substring(1, raw.length - 1).split("(?<=\\}),(?=\\{)")
    assert(recs.length == 2)
    recs.foreach { r =>
      val i = r.indexOf("\"Item\"")
      val e = r.indexOf("\"Embedding\"")
      assert(i >= 0 && e > i, s"field order drifted in $r")
    }
  }

  // ---------------------------------------------------------------------
  // searchMany ≡ one search per query (bit-equal ordered (item, score))
  // ---------------------------------------------------------------------

  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.types._

  private val vecType = ArrayType(FloatType)

  /** An index over explicit (item, embedding) rows, spread over three
    * partitions so the partial heaps are serialized and merged. */
  private def vecIndex(itemType: DataType, rows: (Any, Array[Float])*): SemanticIndex = {
    val schema = StructType(Seq(StructField("item", itemType), StructField("embedding", vecType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, e) => Row(i, e) }, 3), schema)
    SemanticIndex.fromRecords(spark, df)
  }

  private def queryFrame(idType: DataType, rows: (Any, Array[Float])*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (i, q) => Row(i, q) }, 2),
      StructType(Seq(StructField("query_id", idType), StructField("qvec", vecType))))

  /** (item, score bits) in rank order; NaN and -0.0 keep their bits, a
    * null score is None. */
  private def hits(rows: Seq[Row]): Seq[(Any, Option[Long])] = rows.map { r =>
    val s = r.getAs[Any]("score")
    r.getAs[Any]("item") ->
      Option(s).map(v => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
  }

  /** searchMany's rows per query_id, checked to be ranked 1..n. */
  private def byQuery(df: DataFrame): Map[Any, Seq[Row]] =
    df.collect().toSeq.groupBy(_.getAs[Any]("query_id")).map { case (id, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")) == (1 to sorted.size), s"query $id ranks")
      id -> sorted
    }

  /** A copy of `idx` saved to parquet and loaded again: the operator
    * reads it batch by batch from the vectorized scan, where `idx`
    * itself goes through the row adapter. */
  private def onParquet(idx: SemanticIndex): SemanticIndex = {
    val dir = java.nio.file.Files.createTempDirectory("graft_topk").toString
    idx.save(s"$dir/idx")
    val back = SemanticIndex.load(spark, s"$dir/idx")
    val top = back.search(Array.emptyFloatArray, 1).queryExecution.executedPlan
      .collect { case t: graft.plans.VectorTopKExec => t }
    assert(top.size == 1 && top.head.child.supportsColumnar, top)
    back
  }

  /** The formula `search`/`searchCosine` replaced: score every record,
    * then sort and cut. */
  private def formula(idx: SemanticIndex, q: Array[Float], k: Int, cosine: Boolean): DataFrame = {
    val f = if (cosine) graft.functions.vec_cosine _ else graft.functions.vec_dot _
    idx.records.withColumn("score", f(col("embedding"), typedLit(q)))
      .orderBy(col("score").desc, col("item")).limit(k)
  }

  /** For every query, on the row and the columnar adapter: searchMany
    * gives the same ordered (item, score) list as search, which gives
    * the same as the sort-and-cut formula. */
  private def assertMatchesSearch(idx: SemanticIndex, idType: DataType, k: Int,
      queries: (Any, Array[Float])*): Unit =
    Seq(idx, onParquet(idx)).foreach { ix =>
      val got = byQuery(ix.searchMany(queryFrame(idType, queries: _*), k))
      assert(got.keySet == queries.map(_._1).toSet)
      queries.foreach { case (id, q) =>
        val viaSearch = hits(ix.search(q, k).collect().toSeq)
        assert(hits(got(id)) == viaSearch, s"query $id")
        assert(viaSearch == hits(formula(ix, q, k, cosine = false).collect().toSeq), s"query $id")
      }
    }

  private val tieRows: Seq[(Any, Array[Float])] = Seq(
    "d" -> Array(1f, 0f), "b" -> Array(1f, 0f), "a" -> Array(0.5f, 0.5f),
    "c" -> Array(1f, 0f), "e" -> Array(0f, 1f), "f" -> Array(-1f, 0f))

  test("searchMany ≡ search: tied scores break on item inside the cut") {
    val idx = vecIndex(StringType, tieRows: _*)
    assertMatchesSearch(idx, LongType, 2, 1L -> Array(1f, 0f), 2L -> Array(0f, 1f))
    assertMatchesSearch(idx, LongType, 4, 1L -> Array(1f, 0f), 2L -> Array(1f, 1f))
  }

  test("searchMany ≡ search: k larger than the corpus returns every record") {
    val idx = vecIndex(StringType, tieRows: _*)
    assertMatchesSearch(idx, LongType, 50, 1L -> Array(0.3f, -2f), 2L -> Array(1f, 0f))
    assert(idx.searchMany(queryFrame(LongType, 1L -> Array(1f, 0f)), 50).count() == tieRows.size)
    // heap slots grow with the records kept, not with k
    assert(idx.searchMany(queryFrame(LongType, 1L -> Array(1f, 0f)), Int.MaxValue).count() ==
      tieRows.size)
  }

  test("searchMany ≡ search: struct items tie-break in Spark's struct order") {
    val item = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val idx = vecIndex(item,
      Row(2L, "b") -> Array(1f, 0f), Row(1L, "z") -> Array(1f, 0f), Row(1L, null) -> Array(1f, 0f),
      Row(2L, "a") -> Array(1f, 0f), Row(3L, "c") -> Array(0f, 1f))
    assertMatchesSearch(idx, LongType, 3, 7L -> Array(1f, 0f), 8L -> Array(0f, 2f))
  }

  test("searchMany ≡ search: Long and String query ids keep their type") {
    val idx = vecIndex(StringType, tieRows: _*)
    assertMatchesSearch(idx, StringType, 3, "q1" -> Array(1f, 0f), "q2" -> Array(0f, 1f))
    assert(idx.searchMany(queryFrame(StringType, "q" -> Array(1f, 0f)), 1)
      .schema("query_id").dataType == StringType)
    assert(idx.searchMany(queryFrame(LongType, 1L -> Array(1f, 0f)), 1)
      .schema("query_id").dataType == LongType)
  }

  test("searchMany: an empty query batch yields no rows and the full schema") {
    val out = vecIndex(StringType, tieRows: _*).searchMany(queryFrame(LongType), 3)
    assert(out.columns.toSeq == Seq("query_id", "item", "score", "rank"))
    assert(out.collect().isEmpty)
  }

  test("searchMany ≡ search: zero query vector and zero record vector") {
    val idx = vecIndex(StringType, tieRows :+ ("z" -> Array(0f, 0f)): _*)
    assertMatchesSearch(idx, LongType, 4, 1L -> Array(0f, 0f), 2L -> Array(-1f, 0f))
  }

  test("searchMany ≡ search: NaN ranks above every number, a null embedding last") {
    val idx = vecIndex(StringType, tieRows ++ Seq("nan" -> Array(Float.NaN, 0f),
      "nul" -> null, "inf" -> Array(Float.PositiveInfinity, 0f)): _*)
    assertMatchesSearch(idx, LongType, 3, 1L -> Array(1f, 0f), 2L -> Array(0f, 1f))
    assertMatchesSearch(idx, LongType, 20, 1L -> Array(1f, 0f), 2L -> Array(-1f, 1f))
    val top = byQuery(idx.searchMany(queryFrame(LongType, 1L -> Array(1f, 0f)), 20))(1L)
    assert(top.head.getAs[String]("item") == "nan")
    assert(top.last.getAs[String]("item") == "nul" && top.last.isNullAt(top.last.fieldIndex("score")))
  }

  test("a null vector element reads as 0 on both adapters") {
    // parquet dictionary-encodes the floats, and a null slot's column
    // vector value is a dictionary entry (2.0 here), not 0
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("a", Array(2f, 3f)),
      Row("b", Array[Any](1f, null)), Row("c", Array(0.5f, 0.5f))), 2),
      StructType(Seq(StructField("item", StringType), StructField("embedding", vecType))))
    val idx = SemanticIndex.fromRecords(spark, df)
    Seq(idx, onParquet(idx)).foreach { ix =>
      assert(ix.search(Array(1f, 1f), 3).collect().map(r => r.getString(0) -> r.getDouble(2)).toSeq ==
        Seq("a" -> 5.0, "b" -> 1.0, "c" -> 1.0))
      assert(hits(byQuery(ix.searchMany(queryFrame(LongType, 1L -> Array(1f, 1f)), 3))(1L)) ==
        hits(ix.search(Array(1f, 1f), 3).collect().toSeq))
    }
  }

  test("searchMany: a repeated query_id merges both vectors' candidates into one top-k") {
    val idx = vecIndex(StringType, tieRows: _*)
    val qs = Seq[(Any, Array[Float])](1L -> Array(1f, 0f), 1L -> Array(0f, 1f), 2L -> Array(-1f, 0f))
    val got = byQuery(idx.searchMany(queryFrame(LongType, qs: _*), 4))
    // the crossJoin + row_number window this operator replaced
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("item"))
    val window = byQuery(idx.records.crossJoin(queryFrame(LongType, qs: _*))
      .select(col("query_id"), col("item"),
        graft.functions.vec_dot(col("embedding"), col("qvec")).as("score"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 4))
    assert(got.keySet == Set(1L, 2L))
    assert(got.map { case (id, rs) => id -> hits(rs) } == window.map { case (id, rs) => id -> hits(rs) })
    // both vectors feed id 1: b, c, d score 1 on the first, e on the second
    assert(hits(got(1L)).map(_._1) == Seq("b", "c", "d", "e"))
    assert(got(1L).map(_.getAs[Double]("score")) == Seq(1.0, 1.0, 1.0, 1.0))
    assert(hits(got(2L)) == hits(idx.search(Array(-1f, 0f), 4).collect().toSeq))
  }

  test("searchMany: a query/record dimension mismatch raises vec_dot's error") {
    def cause(t: Throwable): Throwable =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .find(_.isInstanceOf[IllegalArgumentException]).getOrElse(t)
    val idx = vecIndex(StringType, tieRows: _*)
    val viaDot = cause(intercept[Exception](
      formula(idx, Array(1f, 0f, 0f), 2, cosine = false).collect()))
    Seq(idx, onParquet(idx)).foreach { ix =>
      val viaSearch = cause(intercept[Exception](ix.search(Array(1f, 0f, 0f), 2).collect()))
      val viaMany = cause(intercept[Exception](
        ix.searchMany(queryFrame(LongType, 1L -> Array(1f, 0f, 0f)), 2).collect()))
      assert(viaMany.isInstanceOf[IllegalArgumentException], viaMany)
      assert(viaMany.getMessage.contains("vector length mismatch"), viaMany.getMessage)
      assert(viaMany.getMessage == viaSearch.getMessage)
      assert(viaSearch.getMessage == viaDot.getMessage)
    }
  }

  test("searchMany ≡ search on a seeded corpus with many ties") {
    val rnd = new scala.util.Random(7)
    def v() = Array.fill(6)((rnd.nextInt(3) - 1).toFloat)
    val idx = vecIndex(StringType, (0 until 300).map(i => (f"it$i%03d": Any) -> v()): _*)
    val qs = (0 until 5).map(j => (j: Any) -> v())
    assertMatchesSearch(idx, IntegerType, 7, qs: _*)
    assertMatchesSearch(idx, IntegerType, 40, qs: _*)
  }

  test("search and searchCosine ≡ sort-and-cut on both adapters, k = 0 and k > n") {
    val idx = vecIndex(StringType, tieRows ++ Seq("z" -> Array(0f, 0f), "nan" -> Array(Float.NaN, 0f),
      "nul" -> null, "inf" -> Array(Float.PositiveInfinity, 0f), "ninf" -> Array(0f, Float.NegativeInfinity),
      "w" -> Array(3f, -4f)): _*)
    val n = idx.count().toInt
    for (ix <- Seq(idx, onParquet(idx)); q <- Seq(Array(1f, 0f), Array(0.3f, -2f), Array(0f, 0f));
         k <- Seq(0, 1, 3, n + 5); cosine <- Seq(false, true)) {
      val got = if (cosine) ix.searchCosine(q, k) else ix.search(q, k)
      val want = formula(ix, q, k, cosine)
      assert(got.schema == want.schema)
      assert(hits(got.collect().toSeq) == hits(want.collect().toSeq), s"k=$k cosine=$cosine q=${q.toSeq}")
    }
  }

  test("search(q, k).select(item, score) on a parquet index") {
    val idx = onParquet(vecIndex(StringType, tieRows: _*))
    val got = idx.search(Array(1f, 0f), 3).select("item", "score").collect().toSeq
    assert(hits(got) == hits(idx.search(Array(1f, 0f), 3).collect().toSeq))
    assert(got.map(_.getString(0)) == Seq("b", "c", "d"))
    assert(idx.search(Array(1f, 0f), 3).select("score").collect().map(_.getDouble(0)).toSeq ==
      Seq(1.0, 1.0, 1.0))
    // the projection folds into the operator: a collect stays one stage
    assertOneStage(idx.search(Array(1f, 0f), 3).select("item", "score"))
    assertOneStage(idx.search(Array(1f, 0f), 3).select(col("item"), (col("score") * 2).as("s2")))
    assert(idx.search(Array(1f, 0f), 3).select(col("item"), (col("score") * 2).as("s2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq ==
      Seq("b" -> 2.0, "c" -> 2.0, "d" -> 2.0))
  }

  test("search frames join: two searches, records with a search, a search with itself") {
    val idx = vecIndex(StringType, tieRows: _*)
    for (ix <- Seq(idx, onParquet(idx))) {
      val a = ix.search(Array(1f, 0f), 4) // b c d a
      val b = ix.search(Array(0f, 1f), 4) // e a b c
      def scores(df: DataFrame) = df.collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(4))).toMap
      assert(scores(a.join(b, "item")) == Map("a" -> (0.5, 0.5), "b" -> (1.0, 0.0), "c" -> (1.0, 0.0)))
      assert(scores(a.join(a, "item")) == Map("a" -> (0.5, 0.5), "b" -> (1.0, 1.0), "c" -> (1.0, 1.0),
        "d" -> (1.0, 1.0)))
      assert(ix.records.join(a, "item").collect().map(r => r.getString(0) -> r.getDouble(3)).toMap ==
        Map("a" -> 0.5, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0))
      assert(a.crossJoin(a).count() == 16)
    }
  }

  test("a search tells the planner it returns at most q×k rows") {
    val idx = onParquet(vecIndex(StringType, tieRows: _*))
    val one = idx.search(Array(1f, 0f), 2).queryExecution.optimizedPlan
    val many = idx.searchMany(queryFrame(LongType, 1L -> Array(1f, 0f), 2L -> Array(0f, 1f)), 3)
      .queryExecution.optimizedPlan
    assert(one.maxRows.contains(2L) && one.stats.rowCount.contains(BigInt(2)))
    assert(many.maxRows.contains(6L) && many.stats.rowCount.contains(BigInt(6)))
    assert(one.stats.sizeInBytes < idx.records.queryExecution.optimizedPlan.stats.sizeInBytes)
  }

  test("k < 0 throws IllegalArgumentException in every search; k = 0 is empty") {
    val idx = vecIndex(StringType, tieRows: _*)
    val queries = queryFrame(LongType, 1L -> Array(1f, 0f))
    val msgs = Seq[() => Any](() => idx.search(Array(1f, 0f), -1),
      () => idx.searchCosine(Array(1f, 0f), -1), () => idx.searchMany(queries, -1))
      .map(f => intercept[IllegalArgumentException](f()).getMessage)
    assert(msgs.distinct == Seq("search: k must not be negative, got -1"), msgs)
    val none = Seq(idx.search(Array(1f, 0f), 0), idx.searchCosine(Array(1f, 0f), 0))
    none.foreach { df =>
      assert(df.columns.toSeq == Seq("item", "embedding", "score"))
      assert(df.collect().isEmpty)
    }
    val many = idx.searchMany(queries, 0)
    assert(many.columns.toSeq == Seq("query_id", "item", "score", "rank"))
    assert(many.collect().isEmpty)
  }

  /** Node names of `df`'s executed plan, and the jobs and stages one
    * collect of it runs. */
  private def profile(df: DataFrame): (Seq[String], Int, Int) = {
    val nodes = df.queryExecution.executedPlan.collect { case p => p.nodeName }
    def drain(): Unit = org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
    @volatile var jobs = 0
    @volatile var stages = 0
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = stages += 1
    }
    drain()
    spark.sparkContext.addSparkListener(jl)
    try { df.collect(); drain() } finally spark.sparkContext.removeSparkListener(jl)
    (nodes, jobs, stages)
  }

  /** The executed plan of `df` is the operator over the columnar scan,
    * and one collect runs one job of one stage. */
  private def assertOneStage(df: DataFrame): Unit = {
    val (nodes, jobs, stages) = profile(df)
    assert(nodes.contains("VectorTopK") && nodes.exists(_.startsWith("Scan parquet")), nodes)
    Seq("ColumnarToRow", "ObjectHashAggregate", "Exchange", "TakeOrderedAndProject", "Window",
        "NestedLoopJoin", "CartesianProduct").foreach(op =>
      assert(!nodes.exists(_.contains(op)), s"$op in $nodes"))
    assert(jobs == 1 && stages == 1, s"$jobs jobs, $stages stages for $nodes")
  }

  test("search plan: VectorTopK over the columnar scan, one job, one stage") {
    val idx = onParquet(vecIndex(StringType, tieRows: _*))
    assertOneStage(idx.search(Array(1f, 0f), 2))
    assertOneStage(idx.searchCosine(Array(1f, 0f), 2))
  }

  test("searchMany plan: VectorTopK over the columnar scan, one job, one stage") {
    val idx = onParquet(vecIndex(StringType, tieRows: _*))
    assertOneStage(idx.searchMany(queryFrame(LongType, 1L -> Array(1f, 0f), 2L -> Array(0f, 1f)), 2))
  }
}
