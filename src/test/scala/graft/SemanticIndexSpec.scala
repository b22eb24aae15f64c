package graft

import org.apache.spark.sql.functions._

import graft.functions.QueryBatch
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

  /** `idx` saved to parquet: a loader of fresh instances over the copy,
    * whose child is the vectorized scan, where `idx` itself is read
    * through the row adapter. */
  private def parquetCopy(idx: SemanticIndex): () => SemanticIndex = {
    val dir = java.nio.file.Files.createTempDirectory("graft_topk").toString
    idx.save(s"$dir/idx")
    val load = () => SemanticIndex.load(spark, s"$dir/idx")
    val top = load().search(Array.emptyFloatArray, 1).queryExecution.executedPlan
      .collect { case t: graft.plans.VectorTopKExec => t }
    assert(top.size == 1 && top.head.child.supportsColumnar, top)
    load
  }

  private def onParquet(idx: SemanticIndex): SemanticIndex = parquetCopy(idx)()

  /** One way to run the operator over an index's records. */
  private final case class Input(name: String, search: (Array[Float], Int, Boolean) => DataFrame,
      many: (DataFrame, Int) => DataFrame)

  /** Runs `f` while storage memory can take no new block. */
  private def storageFull[T](f: => T): T = org.apache.spark.BlockManagerBridge.withStorageFull(spark.sparkContext)(f)

  /** A scan input: the searches of one `fresh()` instance whose building
    * search ran while storage memory could cache none of its blocks, so
    * that every later search scores the scan's own batches or rows. */
  private def scanned(name: String, fresh: () => SemanticIndex) = {
    lazy val ix = {
      val i = fresh()
      storageFull(i.search(null, 1).collect())
      assert(i.residentBytes == 0 && i.resident.builds == i.resident.rdd.get.getNumPartitions)
      i
    }
    Input(name, (q, k, cos) => if (cos) ix.searchCosine(q, k) else ix.search(q, k),
      (qs, k) => ix.searchMany(qs, k))
  }

  /** A resident input: the searches of `fresh()` instances. `warm`: of
    * one instance whose blocks a null-query search built first; else of
    * a new instance every call, so every call builds the blocks. */
  private def residentInput(name: String, fresh: () => SemanticIndex, warm: Boolean) = {
    lazy val warmed = {
      val ix = fresh()
      assert(ix.resident.rdd.isEmpty)
      ix.search(null, 1).collect()
      assert(ix.residentBytes > 0)
      ix
    }
    def ix() = if (warm) warmed else { val i = fresh(); assert(i.resident.rdd.isEmpty); i }
    Input(name, (q, k, cos) => if (cos) ix().searchCosine(q, k) else ix().search(q, k),
      (qs, k) => ix().searchMany(qs, k))
  }

  /** Every input over `idx`'s rows: the row and the columnar adapter
    * (blocks that could not be cached), and resident blocks built from
    * either, on their building search and on a warm one. */
  private def inputs(idx: SemanticIndex): Seq[Input] = {
    val pq = parquetCopy(idx)
    val inMemory = () => SemanticIndex.fromRecords(spark, idx.records)
    Seq(scanned("scan of rows", inMemory), scanned("scan of parquet", pq),
      residentInput("resident from rows, building", inMemory, warm = false),
      residentInput("resident from rows, warm", inMemory, warm = true),
      residentInput("resident from parquet, building", pq, warm = false),
      residentInput("resident from parquet, warm", pq, warm = true))
  }

  /** The formula `search`/`searchCosine` replaced: score every record,
    * then sort and cut. */
  private def formula(idx: SemanticIndex, q: Array[Float], k: Int, cosine: Boolean): DataFrame = {
    val f = if (cosine) graft.functions.vec_cosine _ else graft.functions.vec_dot _
    idx.records.withColumn("score", f(col("embedding"), typedLit(q)))
      .orderBy(col("score").desc, col("item")).limit(k)
  }

  /** For every query, on every input: searchMany gives the same
    * ordered (item, score bits) list as search, which gives the same as
    * the sort-and-cut formula. */
  private def assertMatchesSearch(idx: SemanticIndex, idType: DataType, k: Int,
      queries: (Any, Array[Float])*): Unit = {
    val want = queries.map { case (id, q) => id -> hits(formula(idx, q, k, cosine = false).collect().toSeq) }
    inputs(idx).foreach { in =>
      val got = byQuery(in.many(queryFrame(idType, queries: _*), k))
      assert(got.keySet == queries.map(_._1).toSet, in.name)
      queries.zip(want).foreach { case ((id, q), (_, w)) =>
        val viaSearch = hits(in.search(q, k, false).collect().toSeq)
        assert(hits(got(id)) == viaSearch, s"${in.name}: query $id")
        assert(viaSearch == w, s"${in.name}: query $id")
      }
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
    // every input: both scan adapters and resident blocks built from
    // either; a returned row keeps its null element
    // parquet dictionary-encodes the floats, and a null slot's column
    // vector value is a dictionary entry (2.0 here), not 0
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("a", Array(2f, 3f)),
      Row("b", Array[Any](1f, null)), Row("c", Array(0.5f, 0.5f))), 2),
      StructType(Seq(StructField("item", StringType), StructField("embedding", vecType))))
    val idx = SemanticIndex.fromRecords(spark, df)
    inputs(idx).foreach { in =>
      val rows = in.search(Array(1f, 1f), 3, false).collect()
      assert(rows.map(r => r.getString(0) -> r.getDouble(2)).toSeq ==
        Seq("a" -> 5.0, "b" -> 1.0, "c" -> 1.0), in.name)
      assert(rows.map(_.getSeq[Any](1)).toSeq == Seq(Seq(2f, 3f), Seq(1f, null), Seq(0.5f, 0.5f)), in.name)
      assert(hits(byQuery(in.many(queryFrame(LongType, 1L -> Array(1f, 1f)), 3))(1L)) == hits(rows.toSeq),
        in.name)
    }
  }

  /** The crossJoin + row_number window searchMany replaced: `vec_dot`
    * of every record with every query row, top-k per `query_id`, as
    * (query_id, item, score bits, rank) rows; a binary id as a `Seq`. */
  private def windowTopK(idx: SemanticIndex, queries: DataFrame, k: Int): Set[(Any, Any, Option[Long], Int)] = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("item"))
    ranked(idx.records.crossJoin(queries.toDF("query_id", "qvec"))
      .select(col("query_id"), col("item"), graft.functions.vec_dot(col("embedding"), col("qvec")).as("score"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k))
  }

  /** A ranked frame's (query_id, item, score bits, rank) rows. */
  private def ranked(df: DataFrame): Set[(Any, Any, Option[Long], Int)] = {
    val rows = df.collect().toSeq.map { r =>
      val id = r.getAs[Any]("query_id") match { case b: Array[Byte] => b.toSeq; case v => v }
      val Seq((item, bits)) = hits(Seq(r))
      (id, item, bits, r.getAs[Int]("rank"))
    }
    assert(rows.distinct.size == rows.size)
    rows.toSet
  }

  test("searchMany: a repeated query_id merges both vectors' candidates into one top-k") {
    val idx = vecIndex(StringType, tieRows: _*)
    val qs = Seq[(Any, Array[Float])](1L -> Array(1f, 0f), 1L -> Array(0f, 1f), 2L -> Array(-1f, 0f))
    val got = byQuery(idx.searchMany(queryFrame(LongType, qs: _*), 4))
    assert(got.keySet == Set(1L, 2L))
    assert(ranked(idx.searchMany(queryFrame(LongType, qs: _*), 4)) == windowTopK(idx, queryFrame(LongType, qs: _*), 4))
    // both vectors feed id 1: b, c, d score 1 on the first, e on the second
    assert(hits(got(1L)).map(_._1) == Seq("b", "c", "d", "e"))
    assert(got(1L).map(_.getAs[Double]("score")) == Seq(1.0, 1.0, 1.0, 1.0))
    assert(hits(got(2L)) == hits(idx.search(Array(-1f, 0f), 4).collect().toSeq))

    // struct and binary ids are keyed by their binary form; a frame read
    // from parquet is collected by a job; every id keeps its type
    val struct = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val vs = Seq(Array(1f, 0f), Array(0f, 1f), Array(-1f, 0f), Array(1f, 1f))
    val dir = java.nio.file.Files.createTempDirectory("graft_queries").resolve("q").toString
    queryFrame(StringType, Seq("q1", "q2", "q1", "q3").zip(vs): _*).withColumn("extra", lit(1)).write.parquet(dir)
    for ((idType, frame, distinct) <- Seq[(DataType, DataFrame, Int)](
        (struct, queryFrame(struct, Seq(Row(1L, "x"), Row(2L, null), Row(1L, "x"), Row(2L, null)).zip(vs): _*), 2),
        (BinaryType, queryFrame(BinaryType,
          Seq(Array[Byte](1, 2), Array[Byte](3), Array[Byte](1, 2), Array.emptyByteArray).zip(vs): _*), 3),
        (StringType, spark.read.parquet(dir), 3))) {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      val many = try idx.searchMany(frame, 3) finally {
        org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      if (idType == StringType) assert(jobs.get > 0, "collecting the parquet query frame ran no job")
      assert(many.schema("query_id").dataType == idType)
      val want = windowTopK(idx, frame.select(frame.columns.take(2).map(col).toIndexedSeq: _*), 3)
      assert(ranked(many) == want, idType)
      assert(want.map(_._1).size == distinct, want)
    }
  }

  test("searchMany: a query/record dimension mismatch raises vec_dot's error") {
    def cause(t: Throwable): Throwable =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .find(_.isInstanceOf[IllegalArgumentException]).getOrElse(t)
    val idx = vecIndex(StringType, tieRows: _*)
    val viaDot = cause(intercept[Exception](
      formula(idx, Array(1f, 0f, 0f), 2, cosine = false).collect()))
    // alone, and inside a block: eight queries of the records' length
    // around it
    val inBlock = (0 until 9).map(j => (j.toLong: Any) -> (if (j == 3) Array(1f, 0f, 0f) else Array(j.toFloat, 1f)))
    inputs(idx).foreach { in =>
      val viaSearch = cause(intercept[Exception](in.search(Array(1f, 0f, 0f), 2, false).collect()))
      for (qs <- Seq(Seq[(Any, Array[Float])](1L -> Array(1f, 0f, 0f)), inBlock)) {
        val viaMany = cause(intercept[Exception](in.many(queryFrame(LongType, qs: _*), 2).collect()))
        assert(viaMany.isInstanceOf[IllegalArgumentException], s"${in.name}: $viaMany")
        assert(viaMany.getMessage.contains("vector length mismatch"), viaMany.getMessage)
        assert(viaMany.getMessage == viaSearch.getMessage, in.name)
      }
      assert(viaSearch.getMessage == viaDot.getMessage, in.name)
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

  /** A query frame of (Long id, vector) rows whose vectors may hold
    * null elements. */
  private def queryRows(rows: Seq[(Long, Seq[Any])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (i, q) => Row(i, q) }, 2),
      StructType(Seq(StructField("query_id", LongType), StructField("qvec", vecType))))

  test("searchMany ≡ search ≡ vec_dot over two full query blocks and a remainder, dims 1, 7, 64, 65") {
    val rnd = new scala.util.Random(12)
    for (dims <- Seq(1, 7, 64, 65)) {
      // floats that round when summed, each record vector held by two
      // items so that scores tie
      def v(): Seq[Any] = Seq.fill(dims)(rnd.nextGaussian().toFloat)
      val records = (0 until 20).flatMap { i => val e = v(); Seq(Row(f"r$i%02d", e), Row(f"s$i%02d", e)) } ++
        Seq(Row("nul", null), Row("nan", Float.NaN +: v().tail), Row("hole", v().init :+ null))
      val idx = SemanticIndex.fromRecords(spark, spark.createDataFrame(spark.sparkContext.parallelize(records, 3),
        StructType(Seq(StructField("item", StringType), StructField("embedding", vecType)))))
      // 22 rows: 21 vectors of the records' length make two blocks of 8
      // and a remainder of 5; the first block's rows hold a null query,
      // a zero one and ones with a NaN and a null element, and id 1 is
      // repeated in the second block
      val vecs: Seq[Seq[Any]] = Seq(v(), v(), null, Seq.fill(dims)(0f), Float.NaN +: v().tail,
        null +: v().tail) ++ Seq.fill(16)(v())
      val ids = vecs.indices.map(j => if (j == 12) 1L else j.toLong)
      val qs = ids.zip(vecs)
      val frame = queryRows(qs)
      for (k <- Seq(5, 50)) {
        val want = windowTopK(idx, frame, k)
        inputs(idx).foreach { in =>
          assert(ranked(in.many(frame, k)) == want, s"${in.name}: dims=$dims k=$k")
          qs.filter(_._1 != 1L).foreach { case (id, q) =>
            val floats = Option(q).map(_.map(x => if (x == null) 0f else x.asInstanceOf[Float]).toArray).orNull
            assert(hits(in.search(floats, k, false).collect().toSeq).zipWithIndex.map { case ((i, b), r) =>
              (id, i, b, r + 1) }.toSet == want.filter(_._1 == id), s"${in.name}: dims=$dims k=$k query $id")
          }
        }
      }
    }
  }

  test("a full heap still breaks a tie with its worst score on item; NaN enters, a null score never displaces") {
    // the tied items arrive in descending order, so every later one
    // enters a full heap on the tie with its worst score
    val tied = "jihgfedcba".map(c => (c.toString: Any) -> Array(1f, 0f))
    val idx = vecIndex(StringType, tied ++ Seq("low" -> Array(0.5f, 0f), "nul" -> null,
      "nan" -> Array(Float.NaN, 0f)): _*)
    val q = Array(1f, 0f)
    // nine copies of the query: a block of 8 and the scalar remainder
    val many = queryRows((0 until 9).map(j => j.toLong -> q.toSeq))
    val ins = inputs(idx)
    for (k <- Seq(1, 3, 11, 12)) {
      val want = hits(formula(idx, q, k, cosine = false).collect().toSeq)
      assert(want.head._1 == "nan" && !want.map(_._1).contains("nul"), s"k=$k: $want")
      ins.foreach { in =>
        assert(hits(in.search(q, k, false).collect().toSeq) == want, s"${in.name}: k=$k")
        val got = byQuery(in.many(many, k))
        assert(got.keySet == (0 until 9).map(_.toLong).toSet)
        got.values.foreach(rs => assert(hits(rs) == want, s"${in.name}: k=$k searchMany"))
      }
    }
    assert(hits(formula(idx, q, 3, cosine = false).collect().toSeq).map(_._1) == Seq("nan", "a", "b"))
    // ±0.0 compare equal: -0.0 ties a full heap's 0.0 and wins on item
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val heap = new graft.functions.ItemTopKHeap(1, StringType)
    heap.offer(isNull = false, 0.0, InternalRow(UTF8String.fromString("b")), 0)
    assert(heap.admits(isNull = false, -0.0, InternalRow(UTF8String.fromString("a")), 0))
    assert(!heap.admits(isNull = false, -0.0, InternalRow(UTF8String.fromString("c")), 0))
    assert(!heap.admits(isNull = true, 0.0, InternalRow(UTF8String.fromString("a")), 0))
    assert(heap.admits(isNull = false, Double.NaN, InternalRow(UTF8String.fromString("z")), 0))
    assert(!heap.admits(isNull = false, -1.0, InternalRow(UTF8String.fromString("a")), 0))
  }

  test("search and searchCosine ≡ sort-and-cut on both adapters, k = 0 and k > n") {
    // every input: both scan adapters and resident blocks built from either
    val idx = vecIndex(StringType, tieRows ++ Seq("z" -> Array(0f, 0f), "nan" -> Array(Float.NaN, 0f),
      "nul" -> null, "inf" -> Array(Float.PositiveInfinity, 0f), "ninf" -> Array(0f, Float.NegativeInfinity),
      "w" -> Array(3f, -4f)): _*)
    val n = idx.count().toInt
    for (in <- inputs(idx); q <- Seq(Array(1f, 0f), Array(0.3f, -2f), Array(0f, 0f));
         k <- Seq(0, 1, 3, n + 5); cosine <- Seq(false, true)) {
      val got = in.search(q, k, cosine)
      val want = formula(idx, q, k, cosine)
      assert(got.schema == want.schema)
      val rows = got.collect().toSeq
      assert(hits(rows) == hits(want.collect().toSeq), s"${in.name}: k=$k cosine=$cosine q=${q.toSeq}")
      // every returned column is the record's own, the vector included
      assert(rows.map(r => r.getAs[String]("item") -> Option(r.getSeq[Float](1)).map(_.map(_.toString))) ==
        want.collect().toSeq.map(r => r.getAs[String]("item") -> Option(r.getSeq[Float](1)).map(_.map(_.toString))),
        in.name)
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

  /** Bytes the local file system has read so far (parquet reads go
    * through it). */
  private def fileBytesRead(): Long = {
    val stats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    if (stats == null) 0L else Option(stats.getLong("bytesRead")).map(_.longValue).getOrElse(0L)
  }

  /** Node names of `df`'s executed plan, and the jobs, stages and local
    * file bytes one collect of it runs and reads. */
  private def profile(df: DataFrame): (Seq[String], Int, Int, Long, Seq[Row]) = {
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
    val read0 = fileBytesRead()
    val rows = try df.collect().toSeq finally { drain(); spark.sparkContext.removeSparkListener(jl) }
    (nodes, jobs, stages, fileBytesRead() - read0, rows)
  }

  /** The executed plan of `df` is the operator over the columnar scan,
    * and one collect runs one job of one stage; the bytes it read from
    * the parquet files. */
  private def assertOneStage(df: DataFrame): Long = oneStage(df)._1

  private def oneStage(df: DataFrame): (Long, Seq[Row]) = {
    val (nodes, jobs, stages, read, rows) = profile(df)
    assert(nodes.contains("VectorTopK") && nodes.exists(_.startsWith("Scan parquet")), nodes)
    Seq("ColumnarToRow", "ObjectHashAggregate", "Exchange", "TakeOrderedAndProject", "Window",
        "NestedLoopJoin", "CartesianProduct").foreach(op =>
      assert(!nodes.exists(_.contains(op)), s"$op in $nodes"))
    assert(jobs == 1 && stages == 1, s"$jobs jobs, $stages stages for $nodes")
    (read, rows)
  }

  /** The building search and a warm one are each one job of one stage;
    * the building one reads the parquet files, the warm one reads none
    * of their bytes. */
  private def assertBuildThenWarm(idx: SemanticIndex, search: SemanticIndex => DataFrame): Unit = {
    assert(idx.resident.rdd.isEmpty)
    val (read, building) = oneStage(search(idx))
    assert(idx.residentBytes > 0)
    assert(read > 0, "the building search read no parquet bytes")
    val (warmRead, warm) = oneStage(search(idx))
    assert(warmRead == 0, "a warm search read the parquet files")
    assert(warm == building && building.nonEmpty)
  }

  test("search plan: VectorTopK over the columnar scan, one job, one stage") {
    // the building search and a warm one, and the scan of an instance
    // whose blocks could not be cached
    val pq = parquetCopy(vecIndex(StringType, tieRows: _*))
    assertBuildThenWarm(pq(), _.search(Array(1f, 0f), 2))
    assertBuildThenWarm(pq(), _.searchCosine(Array(1f, 0f), 2))
    val scan = scanned("scan of parquet", pq)
    assert(assertOneStage(scan.search(Array(1f, 0f), 2, false)) > 0)
  }

  test("searchMany plan: VectorTopK over the columnar scan, one job, one stage") {
    // the building search and a warm one, and the scan of an instance
    // whose blocks could not be cached
    val pq = parquetCopy(vecIndex(StringType, tieRows: _*))
    val qs = queryFrame(LongType, 1L -> Array(1f, 0f), 2L -> Array(0f, 1f))
    assertBuildThenWarm(pq(), _.searchMany(qs, 2))
    assert(assertOneStage(scanned("scan of parquet", pq).many(qs, 2)) > 0)
  }

  test("add, remove and clear give instances with their own blocks; the old one keeps its own") {
    val pq = parquetCopy(SemanticIndex.fromItems(spark,
      items("apple pie", "banana bread", "cherry tart", "date loaf")))
    val old = pq()
    val q = HashEmbedder().embedOne("apple pie")
    val before = old.search(q, 10).collect().toSeq
    val blocks = old.resident.rdd.get
    val added = old.add(items("apple pie recipe"))
    val removed = old.remove(items("apple pie"))
    val cleared = old.clear()
    Seq(added, removed, cleared).foreach(ix => assert(ix.resident.rdd.isEmpty))
    for ((ix, n) <- Seq(added -> 5, removed -> 3, cleared -> 0)) {
      val got = hits(ix.search(q, 10).collect().toSeq)
      assert(got.size == n && got == hits(formula(ix, q, 10, cosine = false).collect().toSeq))
    }
    assert(hits(added.search(q, 10).collect().toSeq).map(_._1).contains("apple pie recipe"))
    assert(!hits(removed.search(q, 10).collect().toSeq).map(_._1).contains("apple pie"))
    val ids = Seq(added, removed, cleared).map(_.resident.rdd.get.id)
    assert((ids :+ blocks.id).distinct.size == 4, ids)
    assert(old.resident.rdd.get eq blocks)
    assert(assertOneStage(old.search(q, 10)) == 0)
    assert(old.search(q, 10).collect().toSeq == before && before.size == 4)
  }

  test("blocks dropped from the block manager or unpersisted are rebuilt from lineage") {
    val idx = onParquet(vecIndex(StringType, tieRows: _*))
    val q = Array(1f, 0f)
    val want = idx.search(q, 4).collect().toSeq
    val rdd = idx.resident.rdd.get
    val parts = rdd.getNumPartitions
    assert(idx.residentBytes > 0 && idx.resident.builds == parts)
    org.apache.spark.BlockManagerBridge.removeRdd(spark.sparkContext, rdd.id)
    assert(idx.residentBytes == 0)
    assert(assertOneStage(idx.search(q, 4)) > 0, "evicted blocks were not rebuilt from the files")
    assert(idx.resident.rdd.get eq rdd)
    assert(idx.residentBytes > 0 && idx.resident.builds == 2 * parts)
    assert(idx.search(q, 4).collect().toSeq == want)
    rdd.unpersist(blocking = true)
    assert(idx.search(q, 4).collect().toSeq == want)
    assert(idx.resident.rdd.get.id != rdd.id && idx.residentBytes > 0)
    assert(assertOneStage(idx.search(q, 4)) == 0)
  }

  test("searching one instance builds no blocks for another; count, contains and save build none") {
    val pq = parquetCopy(vecIndex(StringType, tieRows: _*))
    val (a, b) = (pq(), pq())
    a.search(Array(1f, 0f), 2).collect()
    assert(a.resident.rdd.nonEmpty && a.residentBytes > 0)
    assert(b.resident.rdd.isEmpty && b.residentBytes == 0)
    assert(b.count() == tieRows.size && b.contains("a") && !b.contains("zz"))
    b.getAll().collect()
    b.save(java.nio.file.Files.createTempDirectory("graft_resident").resolve("idx").toString)
    assert(b.add(items("new")).count() == tieRows.size + 1)
    assert(b.resident.rdd.isEmpty && b.residentBytes == 0)
  }

  test("blocks storage memory cannot hold are built once; later searches score the scan") {
    val idx = onParquet(vecIndex(StringType, tieRows: _*))
    val q = Array(1f, 0f)
    val want = hits(formula(idx, q, 4, cosine = false).collect().toSeq)
    val (read, first) = storageFull(oneStage(idx.search(q, 4)))
    assert(read > 0 && hits(first) == want)
    val parts = idx.resident.rdd.get.getNumPartitions
    assert(idx.resident.builds == parts && idx.residentBytes == 0)
    // with storage memory still full, and after it has room again: each
    // search reads the files in one stage and builds no block
    for (full <- Seq(true, true, false)) {
      val (read, rows) = if (full) storageFull(oneStage(idx.search(q, 4))) else oneStage(idx.search(q, 4))
      assert(read > 0 && hits(rows) == want, s"full=$full")
      assert(idx.resident.builds == parts && idx.residentBytes == 0, s"full=$full")
    }
    assert(hits(byQuery(idx.searchMany(queryFrame(LongType, 1L -> q), 4))(1L)) == want)
    assert(idx.resident.builds == parts)
  }

  test("a partition past what one block holds gives the too-large block") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import graft.plans.ResidentBlock
    def rows(n: Int): Iterator[Any] = Iterator.tabulate(n)(i => InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"r$i"), UnsafeArrayData.fromPrimitiveArray(Array(1f, 2f))))
    val types = Seq(StringType, vecType)
    assert(new ResidentBlock.Builder(types, 1).fill(rows(100)).rows == 100)
    // 100 vectors of 2 floats are 800 bytes
    val over = new ResidentBlock.Builder(types, 1, limit = 400).fill(rows(100))
    assert(over.rows < 0 && over.estimatedSize < 256)
  }

  test("residentBytes: rows x dims x 4 plus the payload rows, within the block headers") {
    val rnd = new scala.util.Random(3)
    val (n, dims) = (2000, 16)
    val idx = onParquet(vecIndex(StringType,
      (0 until n).map(i => (s"item-$i": Any) -> Array.fill(dims)(rnd.nextFloat())): _*))
    assert(idx.residentBytes == 0)
    idx.search(Array.fill(dims)(1f), 5).collect()
    // each payload row is the record with its vector left null, plus 8
    // bytes of per-row lengths
    val rowBytes = idx.records.select(col("item"), lit(null).cast("array<float>")).collect()
      .map { r =>
        val p = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
          Array[DataType](StringType, vecType))
        p(org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)), null)).getSizeInBytes + 8L
      }.sum
    val want = n.toLong * dims * 4 + rowBytes
    val blocks = idx.resident.rdd.get.getNumPartitions
    val got = idx.residentBytes
    assert(got >= want && got <= want + blocks * 256L, s"$got bytes for $want in $blocks blocks")
    // a block travels between JVMs as bytes (a remote cache read, here
    // a collect) and arrives whole
    val fetched = idx.resident.rdd.get.collect()
    assert(fetched.map(_.rows).sum == n && fetched.map(_.estimatedSize).sum <= got)
  }
}
